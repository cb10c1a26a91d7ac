package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.storage.{VersionedTable, ZoneMaps}

/** Join-based MERGE (upsert) into a [[VersionedTable]] — the Spark-native
  * re-expression of the reference's Snowpark
  * `target.merge(source, cond, [when_matched.update, when_not_matched.insert])`
  * (/root/reference/udfs_and_spoc/co2_harmonized_sp/co2_harmonized_sp/
  * function.py:146-153).
  *
  * Semantics preserved:
  *  - equi-join on `keys`; matched rows take source values, unmatched target
  *    rows are kept, unmatched source rows are inserted (the reference's
  *    single update + single insert clause, both mapping all columns);
  *  - duplicate source keys raise (Snowflake errors on nondeterministic
  *    multi-match updates) unless `dedupeSource` picks a deterministic row;
  *  - the consuming stream's offset commits in the SAME table commit as the
  *    merged data — exactly-once consume.
  *
  * Scale: one shuffle on the merge keys (Catalyst picks broadcast for small
  * sources automatically). With `partitionBy` set, the write is a
  * partition-scoped commit (`replaceWhere`-style): only the partitions the
  * source touches are joined and rewritten — a daily merge of a few
  * thousand rows rewrites one partition, not the 100 TB snapshot. When the
  * caller passes the zone maps of the parts the source is read from, the
  * touched partitions come from the commit metadata, and a touched slice
  * that fits one scan split merges and writes as one partition: one Spark
  * job, no exchange.
  */
object MergeInto {

  final case class MergeResult(updated: Long, inserted: Long, version: Long)

  /** Row-presence markers: a matched row takes the WHOLE source row —
    * NULLs included (the reference's update clause sets every column to
    * the source value; CO2_PPM can legitimately be NULL after its
    * errors='coerce' parse) — so matching is flagged with an explicit
    * non-null marker instead of per-column coalesce.
    */
  private val SRC = "_src_present"
  private val TGT = "_tgt_present"

  /** The merge as a pure plan: full-outer join on `keys`, matched rows take
    * source values, unmatched keep target — no write. Shared by the table
    * writer below and usable directly as a query operator.
    */
  def mergedPlan(target: DataFrame, source: DataFrame,
                 keys: Seq[String]): DataFrame = {
    val joined = joinedPlan(target, source, keys)
    joined.select(
      target.columns.toSeq.map { c =>
        when(col(s"s.$SRC"), col(s"s.$c")).otherwise(col(s"t.$c")).as(c)
      }: _*)
  }

  private def joinedPlan(target: DataFrame, source: DataFrame,
                         keys: Seq[String]): DataFrame = {
    val cond: Column =
      keys.map(k => col(s"t.$k") <=> col(s"s.$k")).reduce(_ && _)
    target.withColumn(TGT, lit(true)).as("t")
      .join(source.withColumn(SRC, lit(true)).as("s"), cond, "full_outer")
  }

  /** Merge `source` into `target`. With `partitionBy = Some(col)`, only the
    * target partitions the source may touch are joined and rewritten;
    * untouched partition data directories are not even opened. The touched
    * set is read from metadata when `sourceStats` holds the zone maps of
    * every part the source's rows come from, with `col` passed through
    * unchanged ([[VersionedTable.partitionsMatching]]: the live partitions
    * whose value those (min, max) may contain, and the NULL partition).
    * Otherwise, or when a part lacks stats on `col`, it is a bounded
    * collect of the source's distinct values — one per touched partition,
    * e.g. a handful of years. With the metadata set, a touched slice and
    * source whose estimated size (from their files' lengths) fits one scan
    * split (`spark.sql.files.maxPartitionBytes`) merge in one partition: the
    * dedupe, join and partitioned write then need no exchange.
    *
    * PARTITION CONTRACT: the partition column must be functionally
    * determined by the merge keys (e.g. partition year derived from a DATE
    * key). A violation — a source row whose key already exists in the
    * target under a DIFFERENT partition value — falls outside the touched
    * slice: the merge inserts a second copy of the key while the stale row
    * survives in the untouched partition, silently. This cannot be
    * detected from the touched slice alone; `validatePartitionKeys = true`
    * buys the check with one key/partition-column scan of the UNTOUCHED
    * partitions (column-pruned, but still a near-full-table scan at 100 TB
    * — default off; turn it on when the key→partition derivation isn't
    * statically obvious).
    */
  def apply(
      spark: SparkSession,
      target: VersionedTable,
      source: DataFrame,
      keys: Seq[String],
      consumeOffsets: Map[String, Long] = Map.empty,
      dedupeSource: Boolean = false,
      partitionBy: Option[String] = None,
      validatePartitionKeys: Boolean = false,
      maxTouchedPartitions: Int = 10000,
      sourceStats: Option[Seq[ZoneMaps.Stats]] = None
  ): MergeResult = {
    require(keys.nonEmpty, "merge requires at least one key column")

    val known = for {
      p <- partitionBy if !validatePartitionKeys
      stats <- sourceStats
      s <- target.state
      touched <- target.partitionsMatching(s, p, stats)
    } yield (s, p, touched)
    known match {
      case Some((s, p, touched)) =>
        val slice = target.readPartitions(s, p, touched)
        val oneTask = Seq(slice, source)
          .map(_.queryExecution.optimizedPlan.stats.sizeInBytes).sum <=
          spark.sessionState.conf.filesMaxPartitionBytes
        def one(df: DataFrame) = if (oneTask) df.coalesce(1) else df
        mergeSlice(target, one(slice), checkedSource(one(source), keys, dedupeSource),
          keys, consumeOffsets, partitionBy, onePartition = oneTask)
      case None =>
        // the source feeds several jobs inside this (eager) merge — touched-
        // partition collect, counters, write; a merge source is the
        // incremental batch, small by definition, so cache it for the call
        val src0 = checkedSource(source, keys, dedupeSource)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try mergeImpl(spark, target, src0, keys, consumeOffsets, partitionBy,
          validatePartitionKeys, maxTouchedPartitions)
        finally src0.unpersist()
    }
  }

  /** `source` with one row per key: deduplicated deterministically, or
    * checked to be so (a job of its own).
    */
  private def checkedSource(source: DataFrame, keys: Seq[String],
                            dedupeSource: Boolean): DataFrame = {
    val srcCols = source.columns.toSeq
    if (dedupeSource) {
      // deterministic survivor per key: max over all non-key columns' struct
      val nonKey = srcCols.filterNot(keys.contains)
      source.groupBy(keys.map(col): _*)
        .agg(max(struct(nonKey.map(col): _*)).as("_s"))
        .select(keys.map(col) ++ nonKey.map(c => col(s"_s.$c").as(c)): _*)
        .select(srcCols.map(col): _*)
    } else {
      val dups = source.groupBy(keys.map(col): _*).count().filter(col("count") > 1)
      if (!dups.isEmpty)
        throw new IllegalArgumentException(
          s"duplicate source keys for merge on ${keys.mkString(",")} " +
            "(Snowflake raises on nondeterministic MERGE); pass dedupeSource=true")
      source
    }
  }

  private def mergeImpl(
      spark: SparkSession,
      target: VersionedTable,
      src0: DataFrame,
      keys: Seq[String],
      consumeOffsets: Map[String, Long],
      partitionBy: Option[String],
      validatePartitionKeys: Boolean,
      maxTouchedPartitions: Int
  ): MergeResult = {
    if (!target.exists) {
      val v = partitionBy match {
        case Some(p) => target.overwritePartitions(src0, p, consumeOffsets)
        case None    => target.overwrite(src0, consumeOffsets)
      }
      return MergeResult(0L, src0.count(), v)
    }

    // Partition-scoped merge without source stats: join ONLY the touched
    // slice of the target. The touched-value collect is bounded by the
    // number of partitions the source spans.
    val tgt = partitionBy match {
      case Some(p) =>
        // the LIMIT bounds the driver transfer even when the cap is blown:
        // we fetch at most cap+1 values, never the full distinct set. The
        // string form names the value's partition dir.
        val touchedRows = src0.select(col(p), col(p).cast("string")).distinct()
          .limit(maxTouchedPartitions + 1).collect()
        val touched = touchedRows.map(_.get(0))
        require(touched.length <= maxTouchedPartitions,
          s"merge source spans more than maxTouchedPartitions=" +
            s"$maxTouchedPartitions distinct '$p' values; a partition-" +
            "scoped merge collects one value per touched partition to the " +
            "driver, so either raise maxTouchedPartitions explicitly or " +
            "drop partitionBy to merge against the full target")
        val touchedFilter =
          if (touched.exists(_ == null))
            col(p).isin(touched.filter(_ != null): _*) || col(p).isNull
          else col(p).isin(touched: _*)
        if (validatePartitionKeys) {
          // partition-contract check: a source key living in an UNTOUCHED
          // target partition would be duplicated by this merge — scan the
          // untouched slice's key columns (column-pruned) and fail loudly.
          val untouched = target.read.filter(!coalesce(touchedFilter, lit(false)))
            .select(keys.map(c => col(c).as(s"t_$c")): _*)
          val cond = keys.map(k => col(s"t_$k") <=> col(k)).reduce(_ && _)
          val bad = untouched.join(src0.select(keys.map(col): _*), cond, "left_semi")
          val sample = bad.limit(3).collect()
          if (sample.nonEmpty)
            throw new IllegalStateException(
              s"merge partition contract violated: source keys exist in " +
                s"untouched '$p' partitions (e.g. ${sample.mkString("; ")}) — " +
                "the partition column is not functionally determined by the " +
                "merge keys; merging would duplicate these keys")
        }
        if (validatePartitionKeys) target.read.filter(touchedFilter)
        else // only the touched partitions' files are opened
          target.readPartitions(p, touchedRows.map(_.getString(1)).toSeq)
      case None => target.read
    }
    mergeSlice(target, tgt, src0, keys, consumeOffsets, partitionBy)
  }

  /** Join the target slice `tgt` with `src0` and commit the result. With
    * `onePartition`, both inputs are single partitions, and the merged
    * rows are committed as one, which the partitioned write clusters
    * without an exchange.
    */
  private def mergeSlice(
      target: VersionedTable,
      tgt: DataFrame,
      src0: DataFrame,
      keys: Seq[String],
      consumeOffsets: Map[String, Long],
      partitionBy: Option[String],
      onePartition: Boolean = false
  ): MergeResult = {
    require(tgt.columns.sorted.sameElements(src0.columns.sorted),
      s"merge schema mismatch: target ${tgt.columns.mkString(",")} vs source ${src0.columns.mkString(",")}")

    // merged rows + update/insert counters in ONE pass: flag columns ride
    // the plan and an Observation collects their sums during the write job
    // itself (no second execution of the join for counting). Presence is
    // tracked with explicit markers, so NULL-keyed matches count correctly
    // and matched rows take whole source rows (NULLs included).
    val joined = joinedPlan(tgt, src0, keys)
    val sOn = col(s"s.$SRC").isNotNull; val tOn = col(s"t.$TGT").isNotNull
    val flagged = joined.select(
      tgt.columns.toSeq.map(c =>
        when(sOn, col(s"s.$c")).otherwise(col(s"t.$c")).as(c)) ++ Seq(
        when(sOn && tOn, 1L).otherwise(0L).as("_merge_upd"),
        when(sOn && !tOn, 1L).otherwise(0L).as("_merge_ins")): _*)
    val obs = new org.apache.spark.sql.Observation()
    val merged = flagged
      .observe(obs, sum(col("_merge_upd")).as("upd"), sum(col("_merge_ins")).as("ins"))
      .drop("_merge_upd", "_merge_ins")
    val observed = if (onePartition) merged.coalesce(1) else merged

    val v = partitionBy match {
      case Some(p) => target.overwritePartitions(observed, p, consumeOffsets)
      case None    => target.overwrite(observed, consumeOffsets)
    }
    val metrics = obs.get
    def cnt(k: String) = Option(metrics(k)).map(_.asInstanceOf[Long]).getOrElse(0L)
    MergeResult(cnt("upd"), cnt("ins"), v)
  }
}
