package graft.storage

import com.fasterxml.jackson.core.json.JsonReadFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.PredicateHelper
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{coalesce, col, count, lit, not, struct, when}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType, StructField, StructType}
import org.apache.spark.util.sketch.BloomFilter
import java.nio.charset.StandardCharsets

/** A versioned Parquet table with an append-only commit log — the minimal
  * transactional substrate vanilla Spark lacks (no MERGE/UPDATE over plain
  * parquet). Equivalent role to the reference's Snowflake tables + streams
  * offset bookkeeping (/root/reference/udfs_and_spoc/co2_harmonized_sp/
  * co2_harmonized_sp/function.py:119-153).
  *
  * Layout:
  * {{{
  *   root/
  *     _commits/00000001.json       // {"version":1,"partcol":"year","parts":[{"dir":...,"vals":[...],"files":[...]}],"offsets":{...}}
  *     v_00000001_3fa9c1d2/ ...     // data dir; name is UNIQUE per attempt
  * }}}
  *
  * Correctness at scale:
  *  - A commit is a single O(1) file created with overwrite=false — an
  *    atomic claim on HDFS and object stores with conditional create.
  *    Readers list `_commits` and take the max committed version. Data dirs
  *    carry a per-attempt random suffix, so two writers racing for the same
  *    version write to DIFFERENT directories; the claim loser's dir is
  *    deleted, never the winner's (a crash leaves only unreferenced
  *    garbage, never corruption).
  *  - `offsets` piggyback consumed change-feed positions on the same commit,
  *    giving merge-consumes-stream the reference's exactly-once contract.
  *  - Appends add a new part directory; no rewrite of existing data.
  *  - [[overwritePartitions]] is the replaceWhere-style incremental commit:
  *    a new part shadows ONLY the partition values it contains, so a daily
  *    merge touching one year rewrites that year, not the table. Untouched
  *    part directories are never opened. Shadowed values are pruned at read
  *    time: parts written partitioned carry hive-style `_pt=<value>` dirs,
  *    so the anti-filter is partition PRUNING, not a scan filter.
  *  - Each part's commit entry lists its data files (path, length, mtime),
  *    and every commit records the table schema as DDL, so a read plans its
  *    scan from the commit alone: no directory listing, no footer read, no
  *    Spark listing job. A record without either is rejected as malformed.
  */
final class VersionedTable(spark: SparkSession, val root: String,
                           collectStats: Boolean = true,
                           bloomCols: Seq[String] = Nil) {

  import VersionedTable.{Part, Slice, SliceIndex, State}

  /** Hive-default-safe encoding of a partition value (NULLs included). */
  private val NULL_PT = "__GRAFT_NULL__"
  private val PT = "_pt"

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def commitsDir = new Path(root, "_commits")

  /** Parts written by this table are root-relative names; a zero-copy
    * [[cloneTo]] commit references the SOURCE table's dirs as absolute
    * paths (starting with '/' or a URI scheme).
    */
  private def partPath(dir: String): String =
    if (dir.startsWith("/") || dir.contains("://")) dir else s"$root/$dir"

  /** The commit log, ascending by version: one listing of `_commits/`
    * (temp claim files carry no `.json` suffix). A table never committed
    * to has no `_commits/` and an empty log. [[vacuum]] trims it.
    */
  private def commitLog: Seq[(Long, FileStatus)] =
    try fs.listStatus(commitsDir).toSeq.collect {
      case st if st.getPath.getName.endsWith(".json") =>
        st.getPath.getName.stripSuffix(".json").toLong -> st
    }.sortBy(_._1)
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  def exists: Boolean = state.isDefined

  def state: Option[State] =
    commitLog.lastOption.map { case (_, st) => readCommitFile(st.getPath) }

  def read: DataFrame = state match {
    case Some(s) => readState(s)
    case _ =>
      throw new IllegalStateException(s"table at $root has no committed data")
  }

  /** Table contents exactly as the state `s` left them: a read pinned to
    * one snapshot, with no further commit-log read.
    */
  def readState(s: State): DataFrame = readLive(s, _ => true)

  /** All committed versions, ascending. */
  def versions: Seq[Long] = commitLog.map(_._1)

  /** Commit history (Delta `DESCRIBE HISTORY` / Snowflake query-history
    * parity), METADATA-ONLY — no data files are opened. The operation
    * label is inferred from consecutive states: APPEND /
    * REPLACE_PARTITIONS grow the part list, REWRITE replaces it
    * (overwrite or compaction), ADD_COLUMNS/OFFSETS change only metadata.
    */
  def history: Seq[VersionedTable.CommitInfo] = {
    // a version vacuumed after the listing has no record left: skip it
    val states = commitLog.flatMap { case (v, st) =>
      stateAt(v).map(_ -> st.getModificationTime)
    }
    states.zip(None +: states.map(x => Some(x._1))).map { case ((s, mtime), prevOpt) =>
      val op = prevOpt match {
        case None =>
          if (s.parts.isEmpty) "CREATE" else "WRITE"
        case Some(p) =>
          if (s.parts == p.parts)
            if (s.schemaDdl != p.schemaDdl) "ADD_COLUMNS"
            else "OFFSETS"
          else if (s.parts.startsWith(p.parts))
            if (s.parts.drop(p.parts.length).exists(_.vals.nonEmpty))
              "REPLACE_PARTITIONS"
            else "APPEND"
          else "REWRITE"
      }
      VersionedTable.CommitInfo(s.version, mtime, op, s.parts.size, s.offsets)
    }
  }

  /** The committed state at an exact version — the time-travel anchor.
    * None if that version was never committed or was [[vacuum]]ed away.
    */
  def stateAt(version: Long): Option[State] =
    try Some(readCommitFile(new Path(commitsDir, f"$version%08d.json")))
    catch { case _: java.io.FileNotFoundException => None }

  /** Time-travel read (`VERSION AS OF`): table contents exactly as commit
    * `version` left them. Snapshot isolation is free — a commit never
    * mutates an existing data dir, so the old version's part list stays
    * valid until [[vacuum]] reclaims it.
    */
  def readVersion(version: Long): DataFrame = stateAt(version) match {
    case Some(s) => readState(s)
    case None =>
      val vs = versions
      throw new IllegalArgumentException(
        s"no committed version $version at $root" +
          (if (vs.isEmpty) "" else s" (available: ${vs.min}..${vs.max})"))
  }

  /** Schema drift between two versions — the data-contract audit to run
    * when [[diffVersions]] refuses on a schema change: one row per
    * column whose presence or type differs, `(column, change, old_type,
    * new_type)` with change ∈ ADDED | REMOVED | RETYPED (empty = schemas
    * identical). Metadata-only: reads the two commits' schema DDL, never
    * the data.
    */
  def schemaDrift(vOld: Long, vNew: Long): DataFrame = {
    def fieldsOf(v: Long): Map[String, String] = {
      val s = stateAt(v).getOrElse(
        throw new IllegalArgumentException(s"no committed version $v at $root"))
      s.schema.fields.map(f => f.name -> f.dataType.sql).toMap
    }
    val o = fieldsOf(vOld); val n = fieldsOf(vNew)
    val rows =
      (n.keySet -- o.keySet).toSeq.sorted.map(c =>
        (c, "ADDED", null.asInstanceOf[String], n(c))) ++
      (o.keySet -- n.keySet).toSeq.sorted.map(c =>
        (c, "REMOVED", o(c), null.asInstanceOf[String])) ++
      (o.keySet & n.keySet).toSeq.sorted.collect {
        case c if o(c) != n(c) => (c, "RETYPED", o(c), n(c))
      }
    import spark.implicits._
    rows.toDF("column", "change", "old_type", "new_type")
  }

  /** Time-travel diff: what changed between two committed versions, keyed
    * by `keyCols` — the audit face of the commit log ("what did last
    * night's merge actually do"), and the generic CDC extractor for
    * consumers that cannot read the engine's change feed. One row per key
    * whose payload differs: `change ∈ added | removed | changed`, with
    * both payload sides as structs (null on the absent side).
    *
    * Keys must be unique within each version (the [[graft.operators
    * .MergeInto]] invariant) — duplicate keys would make "the" old/new
    * payload ambiguous, so they fail loud rather than pick one.
    *
    * Scale shape: one full-outer join, shuffle keyed on the key columns —
    * both sides are column-pruned scans of exactly the two versions'
    * parts; equality is evaluated per row and unchanged keys drop before
    * anything aggregates. No driver materialization.
    */
  def diffVersions(vOld: Long, vNew: Long,
                   keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "diffVersions requires key columns")
    val o = readVersion(vOld)
    val n = readVersion(vNew)
    val cols = o.columns.toSeq
    require(cols == n.columns.toSeq,
      s"schema changed between v$vOld and v$vNew (${cols.mkString(",")} vs " +
        s"${n.columns.mkString(",")}): diff keys would be ambiguous")
    val payload = cols.filterNot(keyCols.contains)
    def keyed(df: DataFrame, side: String): DataFrame = {
      val ks = keyCols.map(col)
      val dups = df.groupBy(ks: _*).agg(count(lit(1)).as("_c"))
        .filter(col("_c") > 1).limit(1).collect()
      require(dups.isEmpty,
        s"duplicate keys on the $side side of the diff " +
          s"(${keyCols.mkString(",")} = ${dups.headOption.mkString})")
      df.select(ks :+ struct(payload.map(col): _*).as(s"_$side"): _*)
    }
    keyed(o, "old").join(keyed(n, "new"), keyCols, "full_outer")
      .withColumn("change",
        when(col("_old").isNull, lit("added"))
          .when(col("_new").isNull, lit("removed"))
          .when(col("_old") === col("_new"), lit(null))
          .otherwise(lit("changed")))
      .filter(col("change").isNotNull)
      .select(keyCols.map(col) :+ col("change") :+
        col("_old").as("old") :+ col("_new").as("new"): _*)
  }

  /** Committed schema as of `version` (metadata only, no data files). */
  def schemaAt(version: Long): StructType =
    stateAt(version).getOrElse(throw new IllegalArgumentException(
      s"no committed schema for version $version at $root")).schema

  /** Latest version whose commit landed at or before `tsMillis`
    * (`TIMESTAMP AS OF`). Uses the commit file's own modification time —
    * the atomic-claim create IS the commit instant.
    */
  def versionAt(tsMillis: Long): Option[Long] =
    commitLog.filter(_._2.getModificationTime <= tsMillis).lastOption.map(_._1)

  /** Committed schema without opening data files (every commit records its
    * DataFrame schema as DDL).
    */
  def schema: StructType =
    state.getOrElse(throw new IllegalStateException(
      s"table at $root has no committed schema")).schema

  /** Commit an empty table with just a schema (CREATE TABLE semantics). */
  def createEmpty(schema: StructType): Long = {
    val prev = state
    val version = prev.map(_.version).getOrElse(0L) + 1
    val offs = prev.map(_.offsets).getOrElse(Map.empty)
    writeCommit(version,
      State(version, None, Seq.empty, offs, schema.toDDL))
    version
  }

  /** Schema-only commit widening the table with new columns (ALTER TABLE
    * ADD COLUMN semantics): no data dir is touched; reads apply the
    * widened schema, so every existing part yields NULL for the new
    * columns. Columns are forced nullable — there is no value to backfill.
    */
  def addColumns(fields: Seq[org.apache.spark.sql.types.StructField]): Long = {
    val prev = state.getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val cur = prev.schema
    val resolver = spark.sessionState.analyzer.resolver
    fields.foreach { f =>
      require(!cur.exists(c => resolver(c.name, f.name)),
        s"column ${f.name} already exists at $root")
    }
    val version = prev.version + 1
    writeCommit(version, prev.copy(version = version,
      schemaDdl = StructType(cur ++ fields.map(_.copy(nullable = true))).toDDL))
    version
  }

  private def ptKey(c: Column): Column =
    coalesce(c.cast("string"), lit(NULL_PT))

  /** One scan over slices of parts, built from the parts' committed file
    * lists (a [[SliceIndex]]): building the DataFrame lists nothing and
    * starts no Spark job, however many partition dirs it spans.
    */
  private def listedRead(s: State, slices: Seq[Slice]): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    // in slice order, and name order within a part, like a listing read
    val withDirs = slices.map { case sl @ (p, live) =>
      val raw = new Path(partPath(p.dir))
      val pfs = raw.getFileSystem(conf)
      val dir = pfs.makeQualified(raw)
      val blockSize = pfs.getDefaultBlockSize(dir)
      sl -> p.files.toArray
        .map(f => new FileStatus(f.length, false, 1, blockSize, f.mtime,
          new Path(dir, f.path)))
        .groupBy(_.getPath.getParent)
        .filter { case (d, _) =>
          live.forall(_.contains(d.getName.stripPrefix(s"$PT=")))
        }
        .toSeq.sortBy(_._1.getName)
    }
    spark.baseRelationToDataFrame(HadoopFsRelation(
      new SliceIndex(spark, this, withDirs),
      PartitionSpec.emptySpec.partitionColumns, s.readSchema, None,
      new ParquetFileFormat, Map.empty)(spark))
  }

  /** The data files of a freshly written part dir, relative to it (`_pt=`
    * subdirs included). Names Spark's file index skips — `_`/`.` prefixes:
    * markers, checksums, bloom sidecars — are left out, as a listing read
    * would leave them out.
    */
  private def dataFiles(dir: Path): Seq[VersionedTable.DataFile] =
    fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".")) Nil
      else if (st.isDirectory)
        dataFiles(st.getPath).map(f => f.copy(path = s"$name/${f.path}"))
      else Seq(VersionedTable.DataFile(name, st.getLen, st.getModificationTime))
    }.sortBy(_.path)

  /** A freshly written part with its bloom sidecars and zone maps, both
    * built from `files`, the part's one listing: driver-side parquet footer
    * reads only (the write already produced the stats); failures degrade
    * to "no stats", never block the commit. A part of several files also
    * records each file's zone maps ([[Part.fileStats]]).
    */
  private def writtenPart(dirName: String, vals: Seq[String],
                          files: Seq[VersionedTable.DataFile]): Part = {
    val dataDir = s"$root/$dirName"
    val paths = files.map(f => new Path(dataDir, f.path))
    writeBlooms(dataDir, paths)
    if (!collectStats) Part(dirName, vals, Map.empty, files)
    else {
      val (stats, perFile) =
        ZoneMaps.collect(spark.sparkContext.hadoopConfiguration, paths)
      Part(dirName, vals, stats,
        if (files.size < 2) files
        else files.zip(perFile).map { case (f, st) => f.copy(stats = st) })
    }
  }

  // -------------------------------------------------------- bloom sidecars
  // Per-part bloom filters for EQUALITY/IN pruning on high-cardinality
  // columns zone maps can't skip (uniform hashes, ids: every part's
  // (min,max) spans the whole domain). Opt-in at WRITE time via
  // `bloomCols`; the READ side is opt-in-free — any part carrying a
  // sidecar `_bloom_<col>.bin` (leading underscore: invisible to parquet
  // directory reads) is skipped when the filter proves every probed value
  // absent. Missing files, IO failures, type mismatches all degrade to
  // "keep" — blooms are an optimization, never a correctness input. New
  // parts from compaction/partial rewrites regenerate blooms only if
  // their writing table instance opted in; absent sidecars just don't
  // skip. Delta/Iceberg's bloom-filter-index equivalent.

  private def bloomPath(dataDir: String, colName: String): Path =
    new Path(dataDir, "_bloom_" +
      ZoneMaps.pctEncode(colName.getBytes(StandardCharsets.UTF_8)) + ".bin")

  /** Spark's `stat.bloomFilter` puts integral values via putLong and
    * strings via their UTF-8 bytes — exactly the two coercions
    * [[ZoneMaps.predsOf]] produces, so probe values test directly.
    */
  private def bloomSupported(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case ByteType | ShortType | IntegerType | LongType | StringType => true
      case _ => false
    }

  private def writeBlooms(dataDir: String, files: Seq[Path]): Unit = {
    if (bloomCols.isEmpty) return
    try {
      val df = spark.read.parquet(dataDir)
      val resolver = spark.sessionState.analyzer.resolver
      val n = math.max(1024L, ZoneMaps.totalRows(
        spark.sparkContext.hadoopConfiguration, files))
      bloomCols.foreach { c =>
        df.schema.fields.find(f => resolver(f.name, c))
          .filter(f => bloomSupported(f.dataType))
          .foreach { f =>
            val bf = df.stat.bloomFilter(f.name, n, 0.01)
            val out = fs.create(bloomPath(dataDir, f.name), true)
            try bf.writeTo(out) finally out.close()
          }
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** Parts are immutable, so loaded blooms cache by path for the table
    * instance's lifetime; `None` (absent/unreadable) caches too.
    */
  private val bloomCache =
    scala.collection.concurrent.TrieMap[String, Option[BloomFilter]]()

  private def loadBloom(dataDir: String, colName: String): Option[BloomFilter] = {
    val p = bloomPath(dataDir, colName)
    bloomCache.getOrElseUpdate(p.toString,
      try {
        if (!fs.exists(p)) None
        else {
          val in = fs.open(p)
          try Some(BloomFilter.readFrom(in)) finally in.close()
        }
      } catch { case scala.util.control.NonFatal(_) => None })
  }

  /** Can `p` possibly satisfy every equality/IN conjunct, per its bloom
    * sidecars? Only probes when the predicate value's coercion matches
    * the column type the bloom was built on (integral ↔ Long, string ↔
    * UTF-8 bytes); anything else keeps the part.
    */
  private def bloomMayMatch(fields: Array[StructField], p: Part,
                            preds: Seq[ZoneMaps.Pred]): Boolean = {
    val resolver = spark.sessionState.analyzer.resolver
    // partPath, not s"$root/${p.dir}": cloned tables carry absolute part
    // dirs, and the raw concat would miss their sidecars (conservative but
    // silently unpruned)
    val dir = partPath(p.dir)
    def probe(c: String, vs: Seq[Any]): Boolean =
      fields.find(f => resolver(f.name, c)) match {
        case Some(f) =>
          val aligned = f.dataType match {
            case ByteType | ShortType | IntegerType | LongType =>
              vs.nonEmpty && vs.forall(_.isInstanceOf[Long])
            case StringType =>
              vs.nonEmpty && vs.forall(_.isInstanceOf[Array[Byte]])
            case _ => false
          }
          if (!aligned) true
          else loadBloom(dir, f.name) match {
            case Some(bf) => vs.exists {
              case l: Long => bf.mightContainLong(l)
              case b: Array[Byte] => bf.mightContainBinary(b)
              case _ => true
            }
            case None => true
          }
        case None => true
      }
    preds.forall {
      case ZoneMaps.Cmp(c, "=", v) => probe(c, Seq(v))
      case ZoneMaps.InSet(c, vs) => probe(c, vs)
      case _ => true
    }
  }

  /** Can part `p` hold a row satisfying every one of `preds`? The one
    * part-skipping decision: zone maps, then bloom sidecars. Shared by
    * [[VersionedTable.SkipParts]], [[pruneStats]] and [[rewriteWhere]].
    */
  private def mayHold(schema: StructType, p: Part,
                      preds: Seq[ZoneMaps.Pred]): Boolean =
    ZoneMaps.mayMatch(p.stats, preds, spark.sessionState.analyzer.resolver) &&
      bloomMayMatch(schema.fields, p, preds)

  /** Live rows of `s`; `wanted` narrows partitioned parts to the `_pt`
    * dir values it accepts (raw, hive-escaped).
    */
  private def readLive(s: State, wanted: String => Boolean): DataFrame = {
    if (s.parts.isEmpty) return emptyRelation(s)
    val anyPartitioned = s.parts.exists(_.vals.nonEmpty)
    if (!anyPartitioned)
      return listedRead(s, s.parts.map(_ -> None))
    val pcol = s.partitionCol.getOrElse(
      throw new IllegalStateException(s"partitioned parts but no partcol at $root"))
    // Later parts shadow earlier ones. Partitioned parts are pruned by PATH
    // (only live `_pt=<v>` subdirs are read — the data files inside carry
    // the full original schema, so no partition-column inference is
    // involved); an unpartitioned part (an append after a partition-scoped
    // commit) falls back to an exact anti-filter on the real column.
    val slices = Seq.newBuilder[Slice]
    val filtered = Seq.newBuilder[DataFrame]
    s.parts.zipWithIndex.foreach { case (p, i) =>
      val shadowed = s.parts.drop(i + 1).flatMap(_.vals).toSet
      if (p.vals.nonEmpty) {
        val live = p.vals.filterNot(shadowed).filter(wanted)
        if (live.nonEmpty) slices += p -> Some(live)
      } else if (shadowed.isEmpty) slices += p -> None
      else filtered += listedRead(s, Seq(p -> None)).filter(not(ptKey(col(pcol))
        .isin(shadowed.toSeq.map(ExternalCatalogUtils.unescapePathName): _*)))
    }
    val listed = slices.result()
    val all = Option.when(listed.nonEmpty)(listedRead(s, listed)).toSeq ++
      filtered.result()
    if (all.isEmpty) emptyRelation(s)
    else all.reduce(_ unionByName _)
  }

  /** Zero-row relation carrying the table schema (no parts, or all shadowed). */
  private def emptyRelation(s: State): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), s.schema)

  /** `read.filter(cond)`. Like every filtered read of the table, it skips
    * parts ([[VersionedTable.SkipParts]]): part directories whose
    * committed (min, max) column stats or bloom sidecars cannot satisfy
    * the optimized condition's top-level AND conjuncts are never opened.
    * Predicates pruning can't use (ORs, expressions over columns,
    * stat-less columns) cost nothing: they just don't skip.
    *
    * At 100 TB with time-ordered appends this is the difference between
    * "scan the table" and "open the two parts the date range touches" —
    * the same pruning Snowflake micro-partitions / Delta file stats buy.
    */
  def readWhere(cond: Column): DataFrame = read.filter(cond)

  /** Live rows of the partitions whose `partitionCol` value, cast to
    * string, is in `values` (a null element: the NULL partition). When
    * every part is committed partition-scoped on that column, only those
    * partitions' files are read; otherwise this is a filtered full read.
    */
  def readPartitions(partitionCol: String, values: Seq[String]): DataFrame =
    readPartitions(state.getOrElse(
      throw new IllegalStateException(s"table at $root has no committed data")),
      partitionCol, values)

  /** [[readPartitions]] of the state `s`. */
  def readPartitions(s: State, partitionCol: String, values: Seq[String]): DataFrame = {
    val keys = values.map(v => if (v == null) NULL_PT else v)
    if (s.partitionCol.contains(partitionCol) && s.parts.forall(_.vals.nonEmpty)) {
      // the dir name Spark's partitioned write gives each value
      val dirs = keys.map(ExternalCatalogUtils.getPartitionValueString).toSet
      readLive(s, dirs)
    } else readState(s).filter(ptKey(col(partitionCol)).isin(keys: _*))
  }

  /** Each live data file of `s` with its `_pt` value (unescaped; null for
    * the NULL partition and for an unpartitioned part) and its zone maps,
    * from the commit alone. None when some part's live rows are not whole
    * files: an unpartitioned part that a later partition-scoped part
    * shadows rows of.
    */
  def liveFiles(s: State): Option[Seq[VersionedTable.LiveFile]] = {
    val out = Seq.newBuilder[VersionedTable.LiveFile]
    s.parts.zipWithIndex.foreach { case (p, i) =>
      val shadowed = s.parts.drop(i + 1).flatMap(_.vals).toSet
      if (p.vals.isEmpty && shadowed.nonEmpty) return None
      p.fileStats.foreach { case (f, st) =>
        val dir = f.path.takeWhile(_ != '/')
        val value = Option.when(p.vals.nonEmpty && dir.startsWith(s"$PT="))(dir.stripPrefix(s"$PT="))
        if (value.forall(v => !shadowed(v)))
          out += VersionedTable.LiveFile(new Path(partPath(p.dir), f.path),
            value.filter(_ != NULL_PT).map(ExternalCatalogUtils.unescapePathName).orNull, st)
      }
    }
    Some(out.result())
  }

  /** The live `partitionCol` values of `s` (as [[readPartitions]] takes
    * them) that may hold a row of a source read from parts with zone maps
    * `sourceStats`, from metadata alone: each value their (min, max) on the
    * column may contain, and the NULL partition, which min/max cannot rule
    * out. None when a source part has no stats on the column or some part
    * of `s` is not partition-scoped on it.
    */
  def partitionsMatching(s: State, partitionCol: String,
                         sourceStats: Seq[ZoneMaps.Stats]): Option[Seq[String]] = {
    val resolver = spark.sessionState.analyzer.resolver
    if (!s.partitionCol.contains(partitionCol) || s.parts.exists(_.vals.isEmpty) ||
        sourceStats.exists(!_.keys.exists(resolver(_, partitionCol)))) return None
    val dt = s.schema.find(f => resolver(f.name, partitionCol)).map(_.dataType)
      .getOrElse(return None)
    Some(s.parts.flatMap(_.vals).distinct.flatMap { v =>
      if (v == NULL_PT) Some(null)
      else {
        val value = ExternalCatalogUtils.unescapePathName(v)
        Option.when(sourceStats.exists(
          ZoneMaps.mayContain(_, partitionCol, dt, value, resolver)))(value)
      }
    })
  }

  /** Diagnostic: how many parts a predicate's zone maps and blooms would
    * keep — `(kept, total)`. Metadata-only, no data files opened.
    */
  def pruneStats(cond: Column): (Int, Int) = {
    val s = state.getOrElse(return (0, 0))
    (partsWhere(s, cond).size, s.parts.size)
  }

  /** The parts of `s` whose zone maps and blooms may hold a row matching
    * `cond`: the parts a `read.filter(cond)` of `s` opens. Metadata-only.
    */
  def partsWhere(s: State, cond: Column): Seq[Part] = {
    val schema = s.schema
    val preds = ZoneMaps.predsOf(spark, schema, cond)
    s.parts.filter(mayHold(schema, _, preds))
  }

  def readOr(schema: StructType): DataFrame = state match {
    case Some(s) => readState(s)
    case None => spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  def offsets: Map[String, Long] = state.map(_.offsets).getOrElse(Map.empty)

  /** Live rows of `s`, from its data files' parquet footers: driver-side
    * metadata reads, no Spark job. Partition-scoped parts, whose later
    * parts shadow rows of earlier ones, or an unreadable footer fall back
    * to counting a scan.
    */
  def rowCount(s: State): Long = {
    val fromFooters =
      if (s.parts.exists(_.vals.nonEmpty)) -1L
      else ZoneMaps.totalRows(spark.sparkContext.hadoopConfiguration,
        s.parts.flatMap(p => p.files.map(f => new Path(partPath(p.dir), f.path))))
    if (fromFooters >= 0) fromFooters else readState(s).count()
  }

  /** Metadata-only commit advancing/resetting offsets — no data job, no
    * new part. The building block for stream-offset resets
    * ([[graft.streaming.Streaming.appendBatchExactlyOnce]] checkpoint
    * hazards) and external offset bookkeeping.
    */
  def commitOffsets(newOffsets: Map[String, Long]): Long = {
    newOffsets.keys.foreach(requireValidOffsetKey)
    retryClaim() { // re-reads state per attempt: offsets merge over any winner
      val s = state.getOrElse(
        throw new IllegalStateException(s"table at $root has no committed data"))
      val version = s.version + 1
      try writeCommit(version, s.copy(version = version,
        offsets = s.offsets ++ newOffsets))
      catch {
        case e: java.io.IOException =>
          // same race contract as every data commit path
          throw new java.util.ConcurrentModificationException(
            s"commit claim for version $version of $root failed", e)
      }
      version
    }
  }

  /** Offsets keys are plain names, with no quote, backslash or brace: the
    * contract every existing commit log was written under.
    */
  private def requireValidOffsetKey(k: String): Unit =
    require(k.nonEmpty && !k.exists(c => c == '"' || c == '\\' || c == '}'),
      s"offsets key '$k' contains one of \" \\ } — " +
        "offsets keys must be plain names")

  /** Runs a metadata-only commit body, retrying on a lost OCC claim; each
    * attempt re-reads state, so offsets merge over whatever the winner
    * committed. Data commits retry INSIDE [[commit]] instead (claim-only,
    * reusing the written data dir).
    */
  private def retryClaim[T](attempts: Int = 20)(body: => T): T = {
    var left = attempts
    while (true) {
      try return body
      catch {
        case _: java.util.ConcurrentModificationException if left > 0 =>
          left -= 1
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(1L, 15L))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Replace table contents (CREATE OR REPLACE / CTAS semantics). */
  def overwrite(df: DataFrame, offsets: Map[String, Long] = Map.empty): Long =
    commit(df, Commit.Replace, offsets)

  /** Append a new part (COPY INTO / INSERT semantics). Racing appends are
    * safe: a claim loser retries the claim against the winner's state, so
    * both parts land under consecutive versions.
    */
  def append(df: DataFrame, offsets: Map[String, Long] = Map.empty): Long =
    commit(df, Commit.Append, offsets)

  /** Conditional append for exactly-once stream sinks: lands `df` IFF
    * the recorded offset for `streamId` is still below `batchId`,
    * checked against the state snapshot the commit CLAIMS against (not a
    * separate read) — so a replayed batch racing a successful first
    * attempt can never double-land. Returns false when skipped. On a
    * claim race (ConcurrentModificationException) retry; the guard
    * re-evaluates against fresh state.
    */
  def appendExactlyOnce(df: DataFrame, streamId: String,
                        batchId: Long): Boolean =
    commit(df, Commit.Append, Map(streamId -> batchId),
      guard = st =>
        st.forall(_.offsets.getOrElse(streamId, -1L) < batchId)) >= 0

  /** Compare-and-set append for watermark-window ingests: lands `df` IFF
    * the recorded offset for `streamId` still EQUALS `expected` — the
    * value the caller read its delta window against. Stricter than
    * [[appendExactlyOnce]]'s monotone `< new` guard, which admits a race
    * where pull A (window (w, h1]) commits between pull B's read of w and
    * B's commit of (w, h2], h2 > h1 — B's guard would pass and rows
    * (w, h1] would land twice. Equality makes the overlapping loser a
    * no-op; it re-pulls against the fresh offset. Returns false when
    * skipped.
    */
  def appendIfOffsetIs(df: DataFrame, streamId: String,
                       expected: Option[Long], newOffset: Long): Boolean =
    commit(df, Commit.Append, Map(streamId -> newOffset),
      guard = st =>
        st.map(_.offsets.get(streamId)).getOrElse(None) == expected) >= 0

  /** Replace ONLY the partitions present in `df` (replaceWhere semantics):
    * rows of earlier commits whose `partitionCol` value appears in `df` are
    * shadowed; everything else is untouched — no data dir is rewritten.
    * All commits to a table must use the same `partitionCol`.
    */
  def overwritePartitions(df: DataFrame, partitionCol: String,
                          offsets: Map[String, Long] = Map.empty): Long = {
    state.flatMap(_.partitionCol).foreach { p =>
      require(p == partitionCol,
        s"table at $root is partitioned by $p, not $partitionCol")
    }
    commit(df, Commit.ReplacePartitions(partitionCol), offsets)
  }

  /** Small-file compaction (OPTIMIZE): rewrite the table's LIVE rows into
    * one fresh part — partition-clustered (one file per live partition
    * value) when the table is partitioned. Contents, schema, and offsets
    * are unchanged; readers of older versions are untouched (old parts
    * stay on disk for time travel until [[vacuum]]). The cure for
    * commit-heavy tables: N appends = N part dirs = N× file-listing and
    * task-scheduling overhead per read, collapsed back to 1.
    */
  def compact(): Long = {
    val s = state.getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    require(s.parts.nonEmpty, s"table at $root has no data to compact")
    val pcol = s.partitionCol.filter(_ => s.parts.exists(_.vals.nonEmpty))
    commit(read, Commit.Rewrite(pcol), Map.empty)
  }

  /** Clustered compaction (Snowflake clustering keys / Delta OPTIMIZE
    * ZORDER analogue, linear order): rewrite the table's LIVE rows into
    * `nParts` RANGE-disjoint parts ordered by `clusterCols` — so the
    * zone maps of a freshly appended-in-arrival-order table become TIGHT
    * on the cluster columns, and a range [[readWhere]] afterwards opens
    * ~1 part instead of all of them.
    *
    * One commit, `nParts` part dirs: Spark's `repartitionByRange`
    * computes the split bounds (sampled range partitioner) and each
    * range lands in its own directory with its own footer-harvested
    * stats. Contents/schema/offsets unchanged; old versions untouched
    * (time travel until [[vacuum]]). Not supported on
    * partition-committed tables — their layout is already value-keyed.
    */
  def compactClustered(clusterCols: Seq[String], nParts: Int): Long = {
    require(clusterCols.nonEmpty, "need cluster columns")
    val s = clusterableState(nParts)
    val ranged = readState(s)
      .repartitionByRange(nParts, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    commitRanged(s, ranged)
  }

  /** Multi-dimension clustered compaction (Delta `OPTIMIZE ZORDER BY`
    * analogue): rewrite the table's LIVE rows into `nParts` parts ordered
    * along the Morton curve of `zCols` ([[ZOrder.key]]), so each part's
    * footer-harvested zone maps bound a RECTANGLE in every z dimension at
    * once. Linear clustering prunes only on its leading column; after a
    * z-order rewrite a 2-D box [[readWhere]] skips every part whose
    * rectangle misses the box — the difference between opening 1/4 and
    * 1/16 of a 100 TB table for a date×key range scan.
    *
    * Same commit mechanics, guarantees, and restrictions as
    * [[compactClustered]]; one extra bounded 1-row aggregate learns the
    * per-dimension domains before the single range shuffle.
    */
  def compactZorder(zCols: Seq[String], nParts: Int, bits: Int = 16): Long = {
    val s = clusterableState(nParts)
    val base = readState(s)
    val zkey = ZOrder.key(base, zCols, bits)
    val ranged = base.withColumn("_zkey", zkey)
      .repartitionByRange(nParts, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
    commitRanged(s, ranged)
  }

  private def clusterableState(nParts: Int): State = {
    require(nParts > 0, "need a positive part count")
    val s = state.getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    require(s.parts.nonEmpty, s"table at $root has no data to compact")
    require(!s.parts.exists(_.vals.nonEmpty),
      s"table at $root uses partition-scoped commits; clustered " +
        "compaction applies to append-committed tables")
    // the staging write borrows `_range` (and z-order `_zkey`) the way
    // partitioned commits borrow `_pt` — a real column of either name
    // would be silently replaced and then stripped from the rewritten files
    Seq("_range", "_zkey").foreach { reserved =>
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(reserved)),
        s"table at $root has a column named $reserved (reserved by " +
          "clustered compaction)")
    }
    s
  }

  /** Clustered APPEND: land `df` as up to `nParts` range-clustered parts
    * — each its own directory with its own footer-harvested zone maps —
    * WITHOUT touching existing data. The incremental-index append shape
    * ([[graft.operators.Similarity.ivfIndexAppend]], postings logs):
    * append cost = delta cost, and a `readWhere` on the cluster column
    * prunes INSIDE the delta immediately, instead of only after the next
    * [[compactClustered]] folds it in. Same restrictions as clustered
    * compaction (append-committed tables only).
    */
  def appendClustered(df: DataFrame, clusterCols: Seq[String], nParts: Int,
                      offsets: Map[String, Long] = Map.empty): Long = {
    require(clusterCols.nonEmpty, "need cluster columns")
    require(nParts > 0, "need a positive part count")
    val s = state.getOrElse(
      throw new IllegalStateException(s"no table at $root — create it first"))
    require(!s.parts.exists(_.vals.nonEmpty),
      s"table at $root uses partition-scoped commits; clustered append " +
        "applies to append-committed tables")
    requireCompatibleSchema(s, df)
    offsets.keys.foreach(requireValidOffsetKey)
    val ranged = df
      .repartitionByRange(nParts, clusterCols.map(col): _*)
      .sortWithinPartitions(clusterCols.map(col): _*)
    commitRanged(s, ranged, keepExisting = true, extraOffsets = offsets)
  }

  /** Z-ordered APPEND: the multi-dimension counterpart of
    * [[appendClustered]] — the delta lands as `nParts` parts ordered
    * along the Morton curve of `zCols`, so each delta part's
    * footer-harvested zone maps bound a tight RECTANGLE in every z
    * dimension and a 2-D box [[readWhere]] prunes inside the delta
    * immediately. The curve's per-dimension domain is learned from the
    * DELTA itself — correctness never depends on it (pruning keys off
    * the raw columns' min/max, not the transient z-key), it only shapes
    * how evenly the delta splits; [[compactZorder]] re-learns the global
    * domain when it folds fragmentation.
    */
  def appendZorder(df: DataFrame, zCols: Seq[String], nParts: Int,
                   bits: Int = 16,
                   offsets: Map[String, Long] = Map.empty): Long = {
    require(nParts > 0, "need a positive part count")
    val s = state.getOrElse(
      throw new IllegalStateException(s"no table at $root — create it first"))
    require(!s.parts.exists(_.vals.nonEmpty),
      s"table at $root uses partition-scoped commits; z-ordered append " +
        "applies to append-committed tables")
    requireCompatibleSchema(s, df)
    offsets.keys.foreach(requireValidOffsetKey)
    val zkey = ZOrder.key(df, zCols, bits)
    val ranged = df.withColumn("_zkey", zkey)
      .repartitionByRange(nParts, col("_zkey"))
      .sortWithinPartitions(col("_zkey"))
      .drop("_zkey")
    commitRanged(s, ranged, keepExisting = true, extraOffsets = offsets)
  }

  private def commitRanged(s: State, rangedRows: DataFrame,
                           keepExisting: Boolean = false,
                           extraOffsets: Map[String, Long] = Map.empty): Long = {
    val version = s.version + 1
    val attempt = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    // one job: range-shuffle once, tag each row with its range id via the
    // partitioner itself, write all ranges in one hive-style write; each
    // _range=<i> subdir is then REGISTERED AS ITS OWN PART with its own
    // zone-map stats (the whole point of the rewrite)
    val stage = f"$root/v_$version%08d_${attempt}_stage"
    val ranged = rangedRows
      .withColumn("_range", org.apache.spark.sql.functions.spark_partition_id())
    ranged.write.partitionBy("_range").mode("overwrite").parquet(stage)
    val rangeDirs = fs.listStatus(new Path(stage))
      .map(_.getPath.getName).filter(_.startsWith("_range="))
      .sortBy(_.stripPrefix("_range=").toInt) // numeric: _range=10 > _range=2
    val parts = rangeDirs.zipWithIndex.map { case (rd, i) =>
      val dirName = f"v_$version%08d_${attempt}_r$i%04d"
      // rename reports failure by RETURNING FALSE; committing a part
      // whose rename silently failed would permanently reference a
      // nonexistent dir
      if (!fs.rename(new Path(s"$stage/$rd"), new Path(s"$root/$dirName")))
        throw new java.io.IOException(
          s"rename of clustered range $rd to $dirName failed at $root")
      writtenPart(dirName, Seq.empty, dataFiles(new Path(s"$root/$dirName")))
    }.toSeq
    fs.delete(new Path(stage), true)
    // preserve a recorded partition column (reachable with zero valued
    // parts via an empty partition-scoped batch) — dropping it would let
    // a later overwritePartitions switch columns mid-table
    val allParts = if (keepExisting) s.parts ++ parts else parts
    try writeCommit(version,
      State(version, s.partitionCol, allParts, s.offsets ++ extraOffsets,
        s.schemaDdl))
    catch {
      case e: java.io.IOException =>
        parts.foreach(p => fs.delete(new Path(s"$root/${p.dir}"), true))
        throw new java.util.ConcurrentModificationException(
          s"commit claim for version $version of $root failed", e)
    }
    version
  }

  /** Partial rewrite driven by zone maps (the DELETE/UPDATE engine):
    * parts whose committed stats CANNOT satisfy `cond` carry over into
    * the new version BY REFERENCE — never listed, never read, never
    * rewritten; only the potentially-matching parts are read,
    * `transform`ed, and landed as one fresh part. Exactness follows from
    * the zone maps' conservativeness: a skipped part provably contains
    * no row matching `cond`, so a row-level DELETE/UPDATE conditioned on
    * `cond` is the identity there.
    *
    * At 100 TB this is the difference between "DELETE one day = rewrite
    * the table" and "rewrite the two parts that day touches" (Delta/
    * Iceberg file-level rewrite semantics). Returns the new version, or
    * the CURRENT version unchanged when no part can match (no-op — no
    * commit, no data job). Partition-scoped tables fall back to a full
    * rewrite (their cross-part value shadowing makes partial carry-over
    * ambiguous).
    *
    * `transform` must preserve the table schema.
    */
  def rewriteWhere(cond: Column)(transform: DataFrame => DataFrame): Long =
    rewriteWhereDetailed(cond)(transform)._1

  /** [[rewriteWhere]] plus an explicit executed-flag: `false` means the
    * zone maps proved a no-op and `transform` was NEVER run — callers
    * with side effects riding the transform (an Observation, a counter)
    * must branch on this rather than compare racy version snapshots.
    */
  def rewriteWhereDetailed(cond: Column)(transform: DataFrame => DataFrame)
      : (Long, Boolean) = {
    val s = state.getOrElse(
      throw new IllegalStateException(s"table at $root has no committed data"))
    if (s.parts.isEmpty) return (s.version, false)
    if (s.parts.exists(_.vals.nonEmpty))
      return (commit(transform(readState(s)),
        Commit.Rewrite(s.partitionCol), Map.empty), true)
    val rwSchema = s.schema
    val preds = ZoneMaps.predsOf(spark, rwSchema, cond)
    val (touched, untouched) = s.parts.partition(mayHold(rwSchema, _, preds))
    if (touched.isEmpty) return (s.version, false)
    val version = s.version + 1
    val attempt = java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val dirName = f"v_$version%08d_$attempt"
    transform(listedRead(s, touched.map(_ -> None)))
      .write.mode("overwrite").parquet(s"$root/$dirName")
    // a transform can delete every row of the touched parts — an empty
    // write still produces a zero-row parquet file, so check the footers'
    // row counts (metadata-only) and drop the part instead of committing
    // an empty reference
    val files = dataFiles(new Path(s"$root/$dirName"))
    val rows = ZoneMaps.totalRows(spark.sparkContext.hadoopConfiguration,
      files.map(f => new Path(s"$root/$dirName", f.path)))
    val newParts =
      if (rows != 0L) Seq(writtenPart(dirName, Seq.empty, files))
      else { fs.delete(new Path(s"$root/$dirName"), true); Seq.empty }
    try writeCommit(version,
      State(version, s.partitionCol, untouched ++ newParts, s.offsets,
        s.schemaDdl))
    catch {
      case e: java.io.IOException =>
        newParts.foreach(p => fs.delete(new Path(s"$root/${p.dir}"), true))
        throw new java.util.ConcurrentModificationException(
          s"commit claim for version $version of $root failed", e)
    }
    (version, true)
  }

  /** Row-level DELETE: remove rows where `cond` is TRUE (NULL keeps the
    * row, per SQL semantics), rewriting only the zone-map-touched parts.
    */
  def deleteWhere(cond: Column): Long =
    rewriteWhere(cond)(df => df.filter(not(coalesce(cond, lit(false)))))

  /** Reclaim storage: delete data dirs and commit files unreachable from
    * the newest `retainLast` commits. Time travel to vacuumed versions
    * stops working (that is the trade — same contract as Delta's VACUUM).
    * Safe against races: only dirs whose embedded version number predates
    * the retained window AND that no retained commit references are
    * deleted, so an in-flight writer's uncommitted dir (which always
    * carries a version newer than the latest commit) is never touched.
    * Returns the names of the deleted data dirs.
    */
  def vacuum(retainLast: Int = 2): Seq[String] = {
    require(retainLast >= 1, "must retain at least the latest version")
    val vs = versions
    if (vs.isEmpty) return Seq.empty
    val retained = vs.takeRight(retainLast)
    val keep = retained.flatMap(stateAt).flatMap(_.parts.map(_.dir)).toSet
    val floor = retained.head
    val dirPat = """v_(\d{8})_.*""".r
    val victims = fs.listStatus(new Path(root)).filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case d @ dirPat(v) if v.toLong < floor && !keep(d) => d }
      .toSeq.sorted
    victims.foreach(d => fs.delete(new Path(root, d), true))
    vs.dropRight(retainLast).foreach { v =>
      fs.delete(new Path(commitsDir, f"$v%08d.json"), false)
    }
    victims
  }

  /** Time-based [[vacuum]] (Delta `VACUUM ... RETAIN n HOURS` parity):
    * every version committed within `maxAgeMs` of now is retained (plus,
    * always, the latest); everything older is reclaimed. Commit times
    * come from the commit files' filesystem timestamps — the same clock
    * [[history]] reports.
    */
  def vacuumOlderThan(maxAgeMs: Long): Seq[String] = {
    require(maxAgeMs >= 0, "maxAgeMs must be non-negative")
    val log = commitLog
    if (log.isEmpty) return Seq.empty
    val cutoff = System.currentTimeMillis() - maxAgeMs
    // retain from the OLDEST fresh version onward: commit mtimes are
    // normally monotone with versions, but a restored/touched commit
    // file must never cause a fresh version to be deleted — so the
    // suffix starts at the first fresh one, conservatively keeping any
    // stale versions after it
    val firstFresh = log.indexWhere(_._2.getModificationTime >= cutoff)
    val retain = if (firstFresh < 0) 1 else log.length - firstFresh
    vacuum(math.max(1, retain))
  }

  /** Snowflake CHANGES-clause parity (`SELECT * FROM t CHANGES(...) AT(...)`)
    * directly off the commit log — no side change-table needed: the exact
    * row-level delta between two committed versions, each row tagged with
    * `METADATA\$ACTION` = 'INSERT' | 'DELETE' (an update appears as
    * DELETE(old) + INSERT(new), the stream's non-append-only contract).
    *
    * Fast path: when every commit in (fromVersion, toVersion] only
    * APPENDED unpartitioned parts (no overwrite, no partition shadowing),
    * the delta IS the new part dirs — read directly, zero diff compute,
    * old data never scanned. General path (rewrites): exact multiset diff
    * via `exceptAll` both ways — one shuffle each side, unavoidable for
    * arbitrary rewrites.
    *
    * `fromVersion = 0` means "from the beginning" (everything is INSERT).
    * Both versions must still be in the retained commit log ([[vacuum]]).
    */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"need 0 <= fromVersion <= toVersion, got $fromVersion..$toVersion")
    val s2 = stateAt(toVersion).getOrElse(throw new IllegalArgumentException(
      s"no committed version $toVersion at $root"))
    val s1 = if (fromVersion == 0L) s2.copy(parts = Seq.empty)
      else stateAt(fromVersion).getOrElse(throw new IllegalArgumentException(
        s"no committed version $fromVersion at $root"))
    val ACTION = "METADATA$ACTION"
    val newParts = s2.parts.drop(s1.parts.length)
    val pureAppend = s2.parts.take(s1.parts.length) == s1.parts &&
      newParts.forall(_.vals.isEmpty)
    if (pureAppend) {
      if (newParts.isEmpty)
        readState(s2).limit(0).withColumn(ACTION, lit("INSERT"))
      else
        listedRead(s2, newParts.map(_ -> None))
          .withColumn(ACTION, lit("INSERT"))
    } else {
      // align the old snapshot to the NEW schema before diffing — an
      // ADD_COLUMNS commit inside the window otherwise makes exceptAll
      // throw on column-count mismatch. Old rows read NULL for columns
      // they predate, exactly as a post-evolution table read does.
      val d2 = readState(s2)
      val d1raw = readState(s1)
      val resolver = spark.sessionState.analyzer.resolver
      val d1 = d2.columns.foldLeft(d1raw) { (df, c) =>
        if (df.columns.exists(resolver(_, c))) df
        else df.withColumn(c,
          lit(null).cast(d2.schema(d2.schema.fieldIndex(c)).dataType))
      }.select(d2.columns.map(col).toSeq: _*)
      d2.exceptAll(d1).withColumn(ACTION, lit("INSERT"))
        .unionByName(d1.exceptAll(d2).withColumn(ACTION, lit("DELETE")))
    }
  }

  /** Zero-copy clone (Snowflake `CREATE TABLE ... CLONE` semantics): the
    * target's first commit references THIS table's current data dirs by
    * ABSOLUTE path — no data moves, O(1) metadata, snapshot-isolated from
    * the source's future commits. The clone then evolves independently:
    * its own commits land under its own root. Hazard (same contract as
    * Delta shallow clone): vacuuming the SOURCE can reclaim dirs the
    * clone still references — `clone.compact()` materializes independence.
    * The clone's own [[vacuum]] never touches source dirs (absolute refs
    * never match the local `v_########_*` victim pattern).
    */
  def cloneTo(targetRoot: String): VersionedTable = {
    val s = state.getOrElse(
      throw new IllegalStateException(s"no table at $root"))
    val tgt = new VersionedTable(spark, targetRoot)
    require(!tgt.exists, s"clone target $targetRoot already exists")
    val absParts = s.parts.map(p => p.copy(dir = partPath(p.dir)))
    tgt.writeCommit(1L, State(1L, s.partitionCol, absParts, s.offsets, s.schemaDdl))
    tgt
  }

  private sealed trait CommitMode
  private object Commit {
    case object Replace extends CommitMode
    case object Append extends CommitMode
    case class ReplacePartitions(col: String) extends CommitMode
    /** Same-contents rewrite (compaction): the new part REPLACES the whole
      * parts list — unlike ReplacePartitions, nothing stays referenced —
      * but keeps the partition-clustered dir layout when `col` is set and
      * the declared schema verbatim.
      */
    case class Rewrite(col: Option[String]) extends CommitMode
  }

  /** Reads apply the LATEST commit's schema to ALL parts (see
    * [[VersionedTable.State.readSchema]]), so an incremental commit that
    * drops a column would silently hide it in every older part, and one
    * that changes a column's type can make the vectorized reader throw on
    * old files. Reject both at commit time; ADDING a column is fine
    * (parquet reads it as NULL from parts that lack it).
    */
  private def requireCompatibleSchema(prev: State, df: DataFrame): Unit = {
    if (prev.parts.isEmpty) return
    val committed = prev.schema
    val resolver = spark.sessionState.analyzer.resolver
    committed.foreach { old =>
      df.schema.find(f => resolver(f.name, old.name)) match {
        case None => throw new IllegalArgumentException(
          s"incremental commit to $root drops committed column ${old.name}; " +
            "latest-schema reads would silently hide it in older parts — " +
            "use overwrite() for a schema-breaking rewrite")
        // committed schemas round-trip through DDL text, which ERASES
        // nullability flags (fromDDL marks arrays/structs nullable), so a
        // strict != here spuriously rejects any append whose live plan
        // carries containsNull=false — compare ignoring nullability, the
        // granularity the storage layer actually persists
        case Some(f) if !org.apache.spark.sql.types.DataType
            .equalsIgnoreNullability(f.dataType, old.dataType) =>
          throw new IllegalArgumentException(
            s"incremental commit to $root changes ${old.name} from " +
              s"${old.dataType.simpleString} to ${f.dataType.simpleString}; " +
              "older parts would fail to read under the latest schema — " +
              "use overwrite() for a schema-breaking rewrite")
        case _ => ()
      }
    }
  }

  /** `guard` is evaluated against the SAME state snapshot this commit
    * claims its version from: a successful claim proves no other commit
    * interleaved after the snapshot, so a guard that passed is valid AT
    * the commit point (the compare-and-swap the exactly-once sink needs).
    * Returns -1 without writing anything when the guard rejects.
    */
  private def commit(df: DataFrame, mode: CommitMode,
                     newOffsets: Map[String, Long],
                     guard: Option[State] => Boolean = _ => true): Long = {
    newOffsets.keys.foreach(requireValidOffsetKey)
    val prev = state
    if (!guard(prev)) return -1L
    if (mode != Commit.Replace) prev.foreach(requireCompatibleSchema(_, df))
    val version = prev.map(_.version).getOrElse(0L) + 1
    // unique per attempt: a racing writer targeting the same version writes
    // elsewhere; only the commit-file claim decides the winner
    val partName = f"v_$version%08d_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val dataDir = s"$root/$partName"

    def writePartitioned(pcol: String): Option[Part] = {
      require(df.columns.contains(pcol), s"missing partition column $pcol")
      // cluster rows by partition value before the dynamic-partition
      // write: each value lands in one task → one file per partition
      // instead of (tasks × values) small files. Input already brought to
      // one partition (`coalesce(1)`/`repartition(1)`) is clustered as it
      // is, and writes with no exchange.
      val onePartition = df.queryExecution.logical match {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r.numPartitions == 1
        case _ => false
      }
      val tagged = df.withColumn(PT, ptKey(col(pcol)))
      (if (onePartition) tagged else tagged.repartition(col(PT)))
        .write.partitionBy(PT).mode("overwrite").parquet(dataDir)
      // the values this part contains = the hive dirs it produced (an FS
      // listing, no extra Spark job). Stored RAW (hive-escaped) so read
      // can reconstruct the subdir paths verbatim.
      val files = dataFiles(new Path(dataDir))
      val vals = files.map(_.path.takeWhile(_ != '/'))
        .filter(_.startsWith(s"$PT="))
        .map(_.stripPrefix(s"$PT="))
        .distinct.sorted
      if (vals.isEmpty) {
        // dynamic partitionBy of an EMPTY batch writes no data files at
        // all — referencing the dir would make every later read fail, so
        // commit version + offsets with the parts unchanged instead
        fs.delete(new Path(dataDir), true)
        None
      } else Some(writtenPart(partName, vals, files))
    }

    val newPart = mode match {
      case Commit.ReplacePartitions(pcol) => writePartitioned(pcol)
      case Commit.Rewrite(Some(pcol)) => writePartitioned(pcol)
      case _ =>
        df.write.mode("overwrite").parquet(dataDir)
        Some(writtenPart(partName, Seq.empty, dataFiles(new Path(dataDir))))
    }

    def stateFor(prev: Option[State], version: Long): State = {
      val parts = (mode, newPart) match {
        case (Commit.Replace | Commit.Rewrite(_), _) => newPart.toSeq
        case (_, p) => prev.map(_.parts).getOrElse(Seq.empty) ++ p.toSeq
      }
      val pcol = mode match {
        case Commit.ReplacePartitions(c) => Some(c)
        case Commit.Rewrite(c) => c.orElse(prev.flatMap(_.partitionCol))
        case _ => prev.flatMap(_.partitionCol)
      }
      val offs = prev.map(_.offsets).getOrElse(Map.empty) ++ newOffsets
      // Incremental commits must not let the incoming batch TIGHTEN the
      // declared schema: a literal INSERT arrives with NOT NULL columns, but
      // older parts (or a pre-ADD COLUMN part missing the column entirely)
      // still hold NULLs — so merge nullability with the committed schema
      // and force columns this batch introduced to nullable.
      val declared = (mode, prev.map(_.schema)) match {
        // compaction re-lands the table's own rows: keep the declared schema
        // verbatim (the relaxed-nullable read schema must not erode it)
        case (Commit.Rewrite(_), Some(committed)) => committed
        case (m, Some(committed)) if m != Commit.Replace =>
          val resolver = spark.sessionState.analyzer.resolver
          StructType(
            committed.map { p =>
              val incoming = df.schema.find(f => resolver(f.name, p.name))
              p.copy(nullable = p.nullable || incoming.forall(_.nullable))
            } ++
            df.schema
              .filterNot(f => committed.exists(p => resolver(p.name, f.name)))
              .map(_.copy(nullable = true)))
        case _ => df.schema
      }
      State(version, pcol, parts, offs, declared.toDDL)
    }

    // The claim races against concurrent writers, and the window is wide:
    // the version was chosen BEFORE the data write, so under contention the
    // first claim is routinely stale. A lost claim does NOT invalidate the
    // data dir (parts are referenced by name; the version prefix is
    // cosmetic), so retry ONLY the claim — re-read state, re-check the
    // guard and schema against the winner, recompute the commit record,
    // claim the next version. Append/Replace/ReplacePartitions semantics
    // are state-independent, so this is sound; a Rewrite (compaction)
    // derives its rows FROM a specific state and must surface the race for
    // the caller to re-run whole.
    val claimRetriable = mode match {
      case Commit.Rewrite(_) => false
      case _ => true
    }
    var curPrev = prev
    var curVersion = version
    var attempts = 0
    while (true) {
      try {
        writeCommit(curVersion, stateFor(curPrev, curVersion))
        return curVersion
      } catch {
        case e: java.io.IOException =>
          attempts += 1
          if (!claimRetriable || attempts > 20) {
            // give up: remove our orphan dir, surface the race
            fs.delete(new Path(dataDir), true)
            throw new java.util.ConcurrentModificationException(
              s"commit claim for version $curVersion of $root failed", e)
          }
          Thread.sleep(java.util.concurrent.ThreadLocalRandom.current()
            .nextLong(1L, 15L))
          try {
            curPrev = state
            if (!guard(curPrev)) { // e.g. a replayed batch landed meanwhile
              fs.delete(new Path(dataDir), true)
              return -1L
            }
            if (mode != Commit.Replace)
              curPrev.foreach(requireCompatibleSchema(_, df))
          } catch {
            case re: Throwable if !re.isInstanceOf[java.util.ConcurrentModificationException] =>
              fs.delete(new Path(dataDir), true) // never leak the orphan dir
              throw re
          }
          curVersion = curPrev.map(_.version).getOrElse(0L) + 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def writeCommit(version: Long, s: State): Unit = {
    fs.mkdirs(commitsDir)
    val path = new Path(commitsDir, f"$version%08d.json")
    // Two-phase claim: the record is fully written to a hidden temp name
    // (no .json suffix — every lister filters on that), then RENAMED to
    // the version file. Rename-no-overwrite is the atomic claim on HDFS,
    // and — unlike create-then-write — it also makes the commit CONTENT
    // atomic to readers: a concurrent `state` can never observe a
    // half-written record (torn reads were real under the claim-retry
    // race). Stores whose rename isn't conditional fall back to the
    // exists-check; in-process writers additionally serialize on a
    // per-root lock, which covers the local filesystem's window.
    val tmp = new Path(commitsDir, f".tmp_$version%08d_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8))
    VersionedTable.claimLock(root).synchronized {
      if (fs.exists(path))
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"version $version of $root already committed")
      val out = fs.create(tmp, false)
      try out.write(renderState(s).getBytes(StandardCharsets.UTF_8))
      finally out.close()
      if (!fs.rename(tmp, path)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"claim rename to $path lost")
      }
    }
  }

  private def readString(p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  private def readCommitFile(p: Path): State = {
    val text = readString(p)
    try parseState(text)
    catch {
      case scala.util.control.NonFatal(e) =>
        throw new IllegalStateException(s"malformed commit record $p", e)
    }
  }

  // The commit record is JSON through Jackson's tree model (jackson-databind
  // ships with Spark). Every field but `partcol` and a part's or file's
  // `stats` is required: a record missing one fails [[readCommitFile]] as
  // malformed. A file's stats are the optional fourth element of its array.
  private def renderState(s: State): String = {
    type ObjectNode = com.fasterxml.jackson.databind.node.ObjectNode
    def putStats(st: ZoneMaps.Stats, node: => ObjectNode): Unit =
      if (st.nonEmpty) {
        val o = node
        st.toSeq.sortBy(_._1).foreach { case (n, (mn, mx)) => o.putArray(n).add(mn).add(mx) }
      }
    val o = VersionedTable.json.createObjectNode().put("version", s.version)
    s.partitionCol.foreach(c => o.put("partcol", c))
    val parts = o.putArray("parts")
    s.parts.foreach { p =>
      val po = parts.addObject().put("dir", p.dir)
      val vals = po.putArray("vals")
      p.vals.foreach(v => vals.add(v))
      putStats(p.stats, po.putObject("stats"))
      val fa = po.putArray("files")
      p.files.foreach { f =>
        val fo = fa.addArray().add(f.path).add(f.length).add(f.mtime)
        putStats(f.stats, fo.addObject())
      }
    }
    val offs = o.putObject("offsets")
    s.offsets.toSeq.sortBy(_._1).foreach { case (k, v) => offs.put(k, v) }
    o.put("schema", s.schemaDdl)
    VersionedTable.json.writeValueAsString(o)
  }

  private def parseState(json: String): State = {
    import scala.jdk.CollectionConverters._
    type Node = com.fasterxml.jackson.databind.JsonNode
    def field(n: Node, name: String): Node = Option(n.get(name)).getOrElse(
      throw new IllegalArgumentException(s"missing field $name"))
    def elems(n: Node) = n.elements.asScala.toSeq
    val o = VersionedTable.json.readTree(json)
    val parts = elems(field(o, "parts")).map { p =>
      def stats(n: Node): ZoneMaps.Stats = Option(n).map(_.properties.asScala.map { e =>
        e.getKey -> (e.getValue.get(0).asText, e.getValue.get(1).asText)
      }.toMap).getOrElse(Map.empty)
      Part(field(p, "dir").asText, elems(field(p, "vals")).map(_.asText),
        stats(p.get("stats")),
        elems(field(p, "files")).map(f => VersionedTable.DataFile(
          f.get(0).asText, f.get(1).asLong, f.get(2).asLong, stats(f.get(3)))))
    }
    val offsets = field(o, "offsets").properties.asScala
      .map(e => e.getKey -> e.getValue.asLong).toMap
    State(field(o, "version").asLong, Option(o.get("partcol")).map(_.asText),
      parts, offsets, field(o, "schema").asText)
  }
}

object VersionedTable {
  /** One data file of a part: `path` relative to the part dir; `stats`
    * its own zone maps, recorded when its part has several files.
    */
  case class DataFile(path: String, length: Long, mtime: Long,
                      stats: ZoneMaps.Stats = Map.empty)

  /** One live data file of a state ([[VersionedTable.liveFiles]]). */
  case class LiveFile(path: Path, value: String, stats: ZoneMaps.Stats)

  /** One committed data directory. `vals` = the partition values this part
    * contains, as raw hive-escaped `_pt=` directory names (empty for
    * unpartitioned full/append parts); a later part's vals shadow the same
    * values in every earlier part. `stats` = zone-map (min, max) per
    * column, harvested from the part's parquet footers at commit time
    * (empty for `collectStats = false` and stat-less columns — absent stats
    * simply mean "never skip this part"). `files` = the part's data files
    * as written.
    */
  case class Part(dir: String, vals: Seq[String],
                  stats: Map[String, (String, String)],
                  files: Seq[DataFile]) {
    /** Each file's zone maps: a one-file part's are the part's own. */
    def fileStats: Seq[(DataFile, ZoneMaps.Stats)] =
      if (files.size == 1) Seq(files.head -> stats) else files.map(f => f -> f.stats)
  }

  /** One committed version: a snapshot a read can be pinned to. */
  case class State(version: Long, partitionCol: Option[String],
                   parts: Seq[Part], offsets: Map[String, Long],
                   schemaDdl: String) {
    def schema: StructType = StructType.fromDDL(schemaDdl)

    /** The schema a read returns: the COMMITTED schema, so no footer is
      * read, with fields relaxed to nullable (an older part may hold NULLs
      * in a column the latest batch happened to commit as NOT NULL).
      */
    def readSchema: StructType = StructType(schema.map(_.copy(nullable = true)))
  }

  /** A part with its live `_pt` values (None = the whole part). */
  type Slice = (Part, Option[Seq[String]])

  /** The file index of one table scan: the slices it reads, each with its
    * leaf dirs' files as the commit lists them. Every dir is found in a
    * pre-filled status cache, so building the index lists nothing and
    * starts no Spark job. [[SkipParts]] narrows it to the slices a filter
    * may match.
    */
  private[graft] final class SliceIndex(
      spark: SparkSession, val table: VersionedTable,
      val slices: Seq[(Slice, Seq[(Path, Array[FileStatus])])])
    extends InMemoryFileIndex(spark, slices.flatMap(_._2.map(_._1)), Map.empty,
      None, SliceIndex.cacheOf(slices.flatMap(_._2).toMap),
      Some(PartitionSpec.emptySpec)) {

    def narrowed(keep: Slice => Boolean): SliceIndex =
      new SliceIndex(spark, table, slices.filter(s => keep(s._1)))
  }

  private object SliceIndex {
    def cacheOf(byDir: Map[Path, Array[FileStatus]]): FileStatusCache =
      new FileStatusCache {
        override def getLeafFiles(path: Path): Option[Array[FileStatus]] =
          byDir.get(path)
        override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
        override def invalidateAll(): Unit = ()
      }
  }

  /** Part skipping, one optimizer rule for every read: a deterministic
    * `Filter` over a table scan keeps only the slices whose parts may hold
    * a matching row ([[VersionedTable.mayHold]]: zone maps, then bloom
    * sidecars). Pruning runs on the scan's slices, after shadowing was
    * resolved, so a skipped part never changes which values another part
    * shows. The rule rewrites only when the kept set strictly shrinks, so
    * the optimizer's fixed point ends.
    */
  object SkipParts extends Rule[LogicalPlan] with PredicateHelper {
    override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
      case f @ Filter(cond, l @ LogicalRelation(r @ HadoopFsRelation(
          idx: SliceIndex, _, _, _, _, _), _, _, _, _)) if cond.deterministic =>
        val preds = ZoneMaps.predsOf(splitConjunctivePredicates(cond))
        val kept =
          if (preds.isEmpty) idx
          else idx.narrowed(s => idx.table.mayHold(r.dataSchema, s._1, preds))
        if (kept.slices.size == idx.slices.size) f
        else if (kept.slices.isEmpty) f.copy(child = LocalRelation(l.output))
        else f.copy(child = l.copy(relation = r.copy(location = kept)(r.sparkSession)))
    }
  }

  /** The one JSON codec of storage metadata: commit records and the
    * catalog's `_table_meta.json`. Control characters are accepted
    * unescaped, as the hand-rolled writers before it left them.
    */
  private[graft] val json = JsonMapper.builder()
    .enable(JsonReadFeature.ALLOW_UNESCAPED_CONTROL_CHARS).build()

  /** One [[VersionedTable.history]] entry. `committedAtMs` is the commit
    * file's creation instant (epoch millis).
    */
  case class CommitInfo(version: Long, committedAtMs: Long, operation: String,
                        nParts: Int, offsets: Map[String, Long])

  private val claimLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private[storage] def claimLock(root: String): Object =
    claimLocks.computeIfAbsent(root, _ => new Object)

  /** `collectStats = false` skips the per-commit zone-map footer harvest
    * — the right call for small, commit-heavy layer tables (a table that
    * fits in a few scan tasks has nothing to skip; the harvest is pure
    * overhead on its commit path). Absent stats only ever mean "never
    * skip", so the flag is always safe.
    */
  /** `bloomCols` opts the table's WRITES into per-part bloom sidecars for
    * those columns (integral/string only) — equality/IN pruning where
    * zone maps can't skip. Reads honor existing sidecars regardless.
    */
  def apply(spark: SparkSession, root: String,
            collectStats: Boolean = true,
            bloomCols: Seq[String] = Nil): VersionedTable =
    new VersionedTable(spark, root, collectStats, bloomCols)
}
