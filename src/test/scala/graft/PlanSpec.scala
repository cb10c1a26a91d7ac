package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression tests: the scale properties (pushdown, column
  * pruning, broadcast joins, shuffle-free top-k) are asserted, not assumed.
  * A change that silently turns a broadcast join into a shuffle join or
  * loses a pushed filter fails here, not at 100 TB.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.session
  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String = {
    val df = Queries.all.toMap.apply(name)(spark, dir)
    df.queryExecution.executedPlan.toString
  }

  test("q01: ship-date filter is pushed to the parquet scan") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("PushedFilters") && p.contains("LessThanOrEqual(l_shipdate"), p)
  }

  test("q01: column pruning — scan reads only the 6 needed columns") {
    val p = planOf("q01_pricing_summary")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(!read.contains("l_partkey") && !read.contains("l_orderkey"), read)
  }

  test("q04: dims broadcast; fact side never shuffle-joins") {
    val p = planOf("q04_top_revenue_orders")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q05: star joins through broadcast exchanges") {
    val p = planOf("q05_region_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
  }

  test("q13: top-k is TakeOrderedAndProject, not a global sort") {
    val p = planOf("q13_sort_limit")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q21 ANN: no exchange before the top-k — vectors never shuffle") {
    val p = planOf("q21_ann_topk")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange"), p)
  }

  test("q19 dedup: exactly one shuffle (the groupBy on the hash)") {
    val p = planOf("q19_dedup_exact")
    assert("Exchange".r.findAllIn(p).size == 1, p)
  }

  test("q39 repetition: one scan, one shuffle, map-side partial aggregation") {
    val p = planOf("q39_repetition")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    assert("HashAggregate".r.findAllIn(p).size == 2, p) // partial + final
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.contains("lang") && read.contains("text") && !read.contains("doc_id"), read)
  }

  test("q40 packing: window shuffles on the shard key; scan prunes to 3 columns") {
    val p = planOf("q40_sequence_pack")
    // the window exchange (hashpartitioning on lang) + the final group agg
    assert("Exchange".r.findAllIn(p).size <= 2, p)
    assert(p.contains("Window"), p)
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(!read.contains("source") && !read.contains("n_chars"), read)
  }

  test("q41 chunking: single scan pruned to (lang, text); one agg exchange") {
    val p = planOf("q41_chunking")
    assert("Exchange".r.findAllIn(p).size == 1, p)
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.contains("lang") && read.contains("text") && !read.contains("doc_id"), read)
  }

  test("q43 shuffle: exactly the shard exchange + agg exchange, no global sort") {
    val p = planOf("q43_shuffle")
    // one hashpartitioning exchange for the per-shard window, one for the
    // final groupBy — never a rangepartitioning (global-sort) exchange
    assert(!p.contains("rangepartitioning"), p)
    assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2, p)
    assert(p.contains("Window"), p)
  }

  test("q45 full outer: both sides pre-aggregate BELOW the join") {
    val p = planOf("q45_full_outer")
    assert(p.contains("FullOuter"), p)
    // partial aggregation on each side before the join exchange: at least
    // 4 HashAggregates (partial+final per side) and the join above them
    assert("HashAggregate".r.findAllIn(p).size >= 4, p)
    val joinIdx = p.indexOf("SortMergeJoin") max p.indexOf("ShuffledHashJoin")
    assert(joinIdx >= 0 && p.indexOf("HashAggregate", joinIdx) > joinIdx,
      "aggregates must sit under the join, not above it")
  }

  test("q46 training pipeline: filters precede the split; corpus joins stay broadcast/semi") {
    val p = planOf("q46_training_pipeline")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q46: dedup shuffle is narrow — text never rides the winners exchange") {
    val p = planOf("q46_training_pipeline")
    // no window-rank over full rows anywhere in the pipeline
    assert(!p.contains("Window"), p)
    // the winners aggregation below its exchange projects ONLY (_h, doc_id):
    // every HashAggregate keyed on the content hash must not carry text
    val aggLines = p.split("\n").filter(l =>
      l.contains("HashAggregate") && l.contains("_h"))
    assert(aggLines.nonEmpty, p)
    assert(aggLines.forall(!_.contains("text")), aggLines.mkString("\n"))
  }

  test("partitioned layout prunes: only the filtered partition is scanned") {
    import org.apache.spark.sql.functions._
    val root = java.nio.file.Files.createTempDirectory("prune").toString
    Tables(spark, dir, "orders")
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").mode("overwrite").parquet(root)
    val pruned = spark.read.parquet(root).filter(col("order_year") === 1995)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      plan.contains("order_year") && !plan.contains("PartitionFilters: []"), plan)
    // row parity with the unpartitioned filter
    val expected = Tables(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === 1995).count()
    assert(pruned.count() == expected)
  }

  test("q24: fingerprints come from the fused kernel — no word explode") {
    val p = planOf("q24_simhash_pairs")
    assert(p.contains("md5_simhash60"), p)
    // the two Generates are the band posexplode and the bucket-pair
    // explode; a per-word tokenization would show explode(split(text ...))
    assert("Generate".r.findAllIn(p).size == 2, p)
    assert(!p.contains("split("), p)
  }

  test("q118 ORC read prunes the lang partition and pushes the n_chars filter") {
    val p = planOf("q118_orc_roundtrip")
    // lang is a partition directory: the filter must prune, not scan+filter
    assert(p.contains("PartitionFilters") && !p.contains("PartitionFilters: []"), p)
    // n_chars predicate reaches the ORC scan
    assert(p.contains("PushedFilters") && p.contains("n_chars"), p)
    assert(!p.contains("PushedFilters: []"), p)
    // text column checksum only: the scan must not read doc_id
    assert("ReadSchema:[^\n]*doc_id".r.findFirstIn(p).isEmpty, p)
  }

  test("LSH subdivision keeps the map-side skew bound: WindowGroupLimit " +
      "rank-limit, no unbounded count window") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, dir, "documents")
    val p = graft.operators.Dedup
      .minhashCandidatePairs(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    // The sub-bucket top-cap selection is a pure rank-limit: Partial
    // (pre-shuffle) + Final WindowGroupLimit, so a hot sub-bucket ships
    // at most cap rows per mapper instead of flooding one reducer
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    assert(p.contains("Partial"), p)
    // Bucket sizing is a groupBy(keys).count() pre-aggregate joined back
    // — NOT count().over(Window.partitionBy(keys)), which would ship a
    // hot bucket's whole population to a single reducer unbounded
    assert(!p.contains("count(1) windowspecdefinition"), p)
  }

  test("partition-scoped table read prunes shadowed partitions by PATH") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("plan_pt_").toString
    val t = graft.storage.VersionedTable(spark, root)
    t.overwritePartitions(
      Seq((2022, 1L), (2023, 2L)).toDF("year", "v"), "year")
    t.overwritePartitions(Seq((2023, 3L)).toDF("year", "v"), "year")
    val files = t.read.queryExecution.executedPlan.collectLeaves()
      .flatMap(_.toString.split("\n")).mkString("\n")
    // v1's 2023 subdir is shadowed by v2 and never appears in any scan
    val v1dir = t.state.get.parts.head.dir
    assert(!files.contains(s"$v1dir/_pt=2023"), files)
    assert(t.read.as[(Int, Long)].collect().toSet == Set((2022, 1L), (2023, 3L)))
  }

  test("GraftCatalog SQL read pushes filters and prunes columns") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("plan_cat_").toString
    graft.storage.VersionedTable(spark, s"$root/NS/T")
      .overwrite(Seq((1, 1.0, "a"), (2, 2.0, "b")).toDF("k", "v", "w"))
    graft.sql.GraftCatalog.register(spark, "plancat", root)
    val q = spark.sql("SELECT v FROM plancat.NS.T WHERE k = 2")
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("EqualTo(k,2)"), p)
    assert(p.contains("ReadSchema: struct<k:int,v:double>"), p)
    assert(q.collect().map(_.getDouble(0)).toSeq == Seq(2.0))
  }

  test("q01: aggregation is partial (map-side) before the exchange") {
    val p = planOf("q01_pricing_summary")
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
    // partial agg must appear below the exchange: two HashAggregate nodes
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("q51 range join: cell equi-join, never a nested-loop/cartesian") {
    val p = planOf("q51_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Join"), p)
  }

  test("q52 salted join: the join key space includes the salt") {
    val p = planOf("q52_salted_join")
    assert(p.contains("_salt"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q53 ngram jaccard: size gate routes tiny inputs to the bounded product") {
    // at sf0.001 the measured size sits under the all-pairs gate, so the
    // cost-based route picks the bounded cross product — the same choice
    // Spark makes for broadcast-NL vs SMJ
    val p = planOf("q53_ngram_jaccard")
    assert(p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q53 ngram jaccard: above the gate, prefix-filter equi-join, never a cartesian") {
    import org.apache.spark.sql.functions.col
    val d = Tables(spark, dir, "documents").filter(col("doc_id") % 20 === 0)
    val p = operators.Dedup
      .ngramJaccardPairs(d, "text", "doc_id", shingleSize = 3,
        threshold = 0.1, allPairsBytes = 0L)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Join"), p)
  }

  test("q54 paragraph dedup: window keys on the md5 fingerprint, not raw text") {
    val p = planOf("q54_paragraph_dedup")
    assert(p.contains("md5"), p)
    assert(p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q55 bm25: df/stats sides broadcast; no cartesian anywhere") {
    val p = planOf("q55_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q57 bloom join: probe filters the fact side below its aggregation") {
    val p = planOf("q57_bloom_join")
    assert(p.contains("bloom_might_contain"), p)
  }

  test("q60 window family shares ONE window sort across all five functions") {
    val p = planOf("q60_window_family")
    assert("Window".r.findAllIn(p).size <= 2, p) // one Window node (+header echo)
    assert("Sort ".r.findAllIn(p).size <= 2, p)
  }

  test("q64 fuzzy join: no cartesian; candidate-id sides broadcast into the rescore") {
    val p = planOf("q64_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q78 PMI: scan prunes to text only; no full-text column in any aggregate") {
    val p = planOf("q78_pmi_bigrams")
    val read = "ReadSchema: struct<([^>]*)>".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(read.contains("text") && !read.contains("doc_id") && !read.contains("source"), read)
    // count relations key on tokens — document text never rides an agg
    val aggLines = p.split("\n").filter(_.contains("HashAggregate"))
    assert(aggLines.nonEmpty && aggLines.forall(!_.contains("text#")),
      aggLines.mkString("\n"))
    assert(p.contains("TakeOrderedAndProject"), p) // top-k, no global sort
  }

  test("q79 bigram NLL: pair relation is narrow (id, tokens); top-k never global-sorts") {
    val p = planOf("q79_bigram_nll")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("rangepartitioning"), p)
    val aggLines = p.split("\n").filter(_.contains("HashAggregate"))
    assert(aggLines.nonEmpty && aggLines.forall(!_.contains("text#")),
      aggLines.mkString("\n"))
  }

  test("q80 temperature mixture: corpus scan prunes to (doc_id, source) — no text read") {
    val p = planOf("q80_temperature_mixture")
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(reads.nonEmpty && reads.forall(r => !r.contains("text")), reads.mkString(";"))
  }

  test("q83 quality filter: map-only rule pass — one narrow agg exchange, no sort") {
    val p = planOf("q83_quality_filter")
    assert(!p.contains("Sort "), p)
    // the only exchange carries (source, booleans) — never document text
    val exLines = p.split("\n").filter(_.contains("Exchange"))
    assert(exLines.nonEmpty && exLines.forall(!_.contains("text#")),
      exLines.mkString("\n"))
    val aggLines = p.split("\n").filter(_.contains("HashAggregate"))
    assert(aggLines.nonEmpty && aggLines.forall(!_.contains("text#")),
      aggLines.mkString("\n"))
  }

  test("q84 incremental bm25: scoring never scans the corpus — postings only") {
    val p = planOf("q84_incremental_bm25")
    // every file read in the scoring plan is the postings layout
    // (term, id, dl, tf) — document text is absent from the whole plan
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(reads.nonEmpty && reads.forall(r => !r.contains("text")),
      reads.mkString(";"))
    assert(!p.contains("text#"), p)
    // df relation broadcasts into the per-term join; no cartesian
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"), p)
    assert(p.contains("TakeOrderedAndProject"), p) // top-15, no global sort
  }

  test("q86 hybrid retrieval: candidates broadcast; vectors never shuffle") {
    val p = planOf("q86_hybrid_retrieval")
    assert(p.contains("BroadcastHashJoin"), p)
    // the only nested-loop is the broadcast 1-row BM25 stats cross (q55
    // shape); a non-broadcast cartesian would be a plan regression
    assert(!p.contains("CartesianProduct"), p)
    // the embedding column may flow map-side but must never ride a
    // shuffle exchange (the rerank is candidate-sized by construction)
    val shuffles = p.split("\n").filter(l =>
      l.contains("Exchange") && !l.contains("Broadcast"))
    assert(shuffles.forall(!_.contains("embedding#")), shuffles.mkString("\n"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q91 quantile buckets: the only sorts are histogram-sized (no doc_id)") {
    val p = planOf("q91_quantile_buckets")
    val sorts = p.split("\n").filter(_.contains("Sort "))
    assert(sorts.nonEmpty, p)
    assert(sorts.forall(!_.contains("doc_id")), sorts.mkString("\n"))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q95 funnel: step joins key on user_id; no window, no cartesian") {
    val p = planOf("q95_funnel")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    // event_type filters reach the scans (pushed, not post-join)
    assert(p.contains("PushedFilters") || p.contains("Filter"), p)
  }

  test("q97 gap-fill: the fill window partitions by event_type over the spine") {
    val p = planOf("q97_gap_fill")
    assert(p.contains("Window"), p)
    // the window input is the spine join, whose rows carry (event_type, d,
    // v) only — never the raw value column of the events scan
    val winLines = p.split("\n").filter(_.contains("Window"))
    assert(winLines.forall(!_.contains("value#")), winLines.mkString("\n"))
  }

  test("q98 scd2: no sort, no window — batch joins against current rows only") {
    val p = planOf("q98_scd2")
    assert(!p.contains("Window"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("Union"), p)
  }

  test("q102 weighted sample: global top-k is TakeOrdered, never a total sort") {
    val p = planOf("q102_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
    // a global Sort node (rangepartitioning exchange) would mean the whole
    // corpus rides a total-order shuffle just to take k rows
    assert(!p.contains("rangepartitioning"), p)
  }

  test("q103 random projection: map-only until the narrow (j, p) explode") {
    val p = planOf("q103_random_projection")
    // the embedding vectors must not ride any exchange: the only shuffle
    // keys on the 16-value j after posexplode of the narrow projection
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(reads.nonEmpty && reads.forall(r => !r.contains("label")), reads.toString)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("q107 interleave: prefix selection is TakeOrdered over the window, no global sort") {
    val p = planOf("q107_curriculum_interleave")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q108 proximity: corpus scan prunes to (doc_id, text); no cartesian") {
    val p = planOf("q108_term_proximity")
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(reads.forall(r => !r.contains("lang") && !r.contains("source")), reads.toString)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q55 bm25: per-doc term counting — no corpus-token explode-then-filter") {
    // the r9 rewrite counts each query term inside the scan projection;
    // the regression it guards against is exploding EVERY token of every
    // document and filtering with `_term IN (…)` afterwards — a
    // corpus-token-sized (~200× docs) relation feeding the first shuffle
    val p = planOf("q55_bm25")
    assert(!p.contains(" IN ("), p.split("\n").filter(_.contains(" IN (")).mkString)
    // every Generate is the |terms|-wide per-doc array, never raw tokens
    val gens = p.split("\n").filter(_.contains("Generate"))
    assert(gens.nonEmpty && gens.forall(_.contains("explode(array(struct")), gens.mkString("\n"))
  }

  test("windowed LSH candidates keep the same subdivision skew contract") {
    import org.apache.spark.sql.functions._
    // q114's operator is eager (localCheckpoint), so its candidate plan is
    // asserted through the lazy candidates-only front end it shares
    val docs = Tables(spark, dir, "documents")
      .withColumn("w", expr("doc_id div 50"))
    val p = graft.operators.Dedup
      .minhashPairsWindowed(docs, "text", "doc_id", "w", threshold = 0.0)
      .queryExecution.executedPlan.toString
    // sub-bucket top-cap as map-side WindowGroupLimit; bucket sizing as a
    // groupBy pre-aggregate, never an unbounded count-over-bucket window
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
    // the only window is the rank-limit; bucket sizing must stay a
    // groupBy pre-aggregate, never count().over(partitionBy(bucket…))
    assert(!p.contains("count(1) windowspecdefinition"), "unbounded bucket count window leaked")
  }

  test("q176 bootstrap: the md5 draw is evaluated ONCE per exploded row") {
    // conditionals defeat codegen CSE: if the draw inlines into the
    // inverse-CDF terms the plan re-hashes up to 10x per row (the
    // measured 49 s -> 3 s regression this pins)
    val p = planOf("q176_bootstrap_ci")
    assert("md5".r.findAllIn(p).length == 1, p)
  }

  test("q178 pareto: one window, no cartesian/dominance join") {
    val p = planOf("q178_pareto")
    assert(!p.contains("CartesianProduct"), p)
    assert("Window".r.findAllIn(p).length >= 1, p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q186 spatial join: equi-join on the cell key, never a cross join") {
    val p = planOf("q186_spatial_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q183 triples: frequent-set prunes run as broadcast/semi joins") {
    val p = planOf("q183_frequent_triples")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // ONE candidate-enumeration chain in the executed plan: the basket
    // arrays and F2 are materialized upstream, so the final plan holds
    // exactly the pair generates (posexplode a, posexplode b-slice) plus
    // the third-element explode — a re-derived pair stream would double
    // the Generate count (the r10 shape re-ran the 17M-row closure
    // enumeration per consumer)
    assert("Generate".r.findAllIn(p).length == 3, p)
    // and no shuffle between candidate generation and the support count
    // beyond the final domain-sized aggregation exchanges
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q181 robots gate: rule side broadcasts; URL side never all-pairs") {
    val p = planOf("q181_robots_gate")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q201 rolling actives: the 7-window explode runs on the DISTINCT domain") {
    val p = planOf("q201_rolling_actives")
    // the Generate must sit above the distinct aggregate, not raw events:
    // HashAggregate (distinct) appears below Generate in the plan tree,
    // so the explode's input already collapsed to (type, user, day)
    val genIdx = p.indexOf("Generate")
    val aggBelow = p.indexOf("HashAggregate", genIdx)
    assert(genIdx >= 0 && aggBelow > genIdx, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q204 centroid outliers: no pairwise work — explode + aggregate + one join") {
    val p = planOf("q204_centroid_outliers")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q205 windowed funnel: window carries + equi-join, never a range self-join") {
    val p = planOf("q205_windowed_funnel")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    assert("Window".r.findAllIn(p).nonEmpty, p)
  }

  test("kmv sketch build: rank filter runs as WindowGroupLimit before the shuffle") {
    import org.apache.spark.sql.functions._
    val ev = Tables(spark, dir, "events")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("h"))
    val plan = ev.select(col("event_type").as("g"), xxhash64(col("user_id")).as("h"))
      .distinct()
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 64)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
  }
}
