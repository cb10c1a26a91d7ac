package graft.storage

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, InSet => CInSet, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Zone maps (data skipping): per-part min/max column statistics,
  * harvested from the parquet FOOTERS the write already produced — no
  * extra Spark job at commit time, just driver-side footer reads of the
  * new part's files. Stored in the commit log, consulted by
  * [[VersionedTable.SkipParts]] (every filtered read: DataFrame, SQL and
  * `readWhere` alike) to skip whole part directories whose value ranges
  * cannot satisfy a predicate.
  *
  * This is the Snowflake micro-partition-pruning / Delta file-stats idea
  * at part granularity: at 100 TB, a time-ordered append stream gives
  * near-sorted commit ranges on date/id columns, so a range predicate
  * opens only the parts it can touch.
  *
  * Value domains (encoded `"<tag>:<payload>"` in the commit JSON):
  *  - `L` long-comparable: integers, DATE (epoch days), TIMESTAMP
  *    (micros) — parquet's physical representation already IS this;
  *  - `D` double: float/double;
  *  - `S` UTF-8 string bytes, percent-encoded, compared bytewise unsigned
  *    (parquet/Spark string order — NOT java String UTF-16 order).
  *
  * Pruning is always CONSERVATIVE: any column without stats, any
  * unsupported predicate shape, any type mismatch ⇒ the part is kept.
  * Null handling is free: min/max cover non-null values only, and a
  * comparison predicate rejects null rows anyway.
  */
object ZoneMaps {

  /** (encodedMin, encodedMax) per top-level column name. */
  type Stats = Map[String, (String, String)]

  // ---------------------------------------------------------------------
  // Collection (commit-time, driver-side)
  // ---------------------------------------------------------------------

  /** Harvest per-column (min, max) over the parquet files among `paths`
    * (a freshly written part's data files, as its commit lists them: no
    * second listing), and each file's own, aligned with `paths` (empty for
    * a path that is not a parquet file). A column survives only if EVERY
    * chunk holding non-null values reports usable stats; all-null chunks
    * are fine (they contribute no values). Returns empty on any footer
    * failure — stats are an optimization, never a commit blocker.
    */
  def collect(conf: Configuration, paths: Seq[Path],
              maxCols: Int = 32): (Stats, Seq[Stats]) = {
    val none = (Map.empty: Stats, paths.map(_ => Map.empty: Stats))
    try {
      val files = paths.filter(_.getName.endsWith(".parquet"))
      if (files.isEmpty) return none
      // footers are independent: read them on a small driver pool (the
      // per-commit harvest is pure metadata I/O, latency-bound)
      val perFile: Seq[(Seq[(String, (Char, Any, Any))], Set[String])] =
        if (files.size == 1) Seq(harvestFile(conf, files.head))
        else {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(8, files.size))
          try {
            import scala.jdk.CollectionConverters._
            val tasks = files.map { f =>
              new java.util.concurrent.Callable[(Seq[(String, (Char, Any, Any))], Set[String])] {
                override def call() = harvestFile(conf, f)
              }
            }
            pool.invokeAll(tasks.asJava).asScala.map(_.get()).toSeq
          } finally pool.shutdown()
        }
      // merge: any file declaring a column dead kills it; otherwise fold
      // chunk ranges
      val acc = scala.collection.mutable.LinkedHashMap[String, (Char, Any, Any)]()
      val dead = scala.collection.mutable.Set[String]()
      perFile.foreach { case (_, d) => dead ++= d }
      perFile.foreach { case (cols, _) =>
        cols.foreach { case (name, (dom, mn, mx)) =>
          if (!dead(name)) acc.get(name) match {
            case None => acc(name) = (dom, mn, mx)
            case Some((d0, m0, x0)) =>
              if (d0 != dom) dead += name
              else acc(name) = (dom,
                if (cmp(dom, mn, m0) < 0) mn else m0,
                if (cmp(dom, mx, x0) > 0) mx else x0)
          }
        }
      }
      dead.foreach(acc.remove)
      val byFile = files.zip(perFile.map { case (cols, _) => encoded(cols, maxCols) }).toMap
      (encoded(acc.toSeq, maxCols), paths.map(byFile.getOrElse(_, Map.empty)))
    } catch { case scala.util.control.NonFatal(_) => none }
  }

  /** Live columns' (min, max) in the commit encoding. Stat VALUES are
    * percent-encoded and column NAMES are kept plain: names carrying
    * JSON-structural or control bytes (which once broke the regex-parsed
    * commit log) get no stats. Same policy as requireValidOffsetKey; stats
    * are an optimization, so skipping is always safe.
    */
  private def encoded(cols: Seq[(String, (Char, Any, Any))], maxCols: Int): Stats =
    cols.filter { case (n, _) =>
      n.nonEmpty && !n.exists(c =>
        c == '"' || c == '\\' || c == '{' || c == '}' ||
          c == ':' || c == ',' || c.isControl)
    }.take(maxCols).map { case (n, (d, mn, mx)) =>
      n -> (encode(d, mn), encode(d, mx))
    }.toMap

  /** A reader of parquet file `f`'s footer. Its read options come from
    * `conf`: the options' default builder would load a fresh Hadoop
    * configuration, parsing the default and site XML files, on every open.
    */
  private def openFooter(conf: Configuration, f: Path): ParquetFileReader =
    ParquetFileReader.open(HadoopInputFile.fromPath(f, conf), HadoopReadOptions.builder(conf).build())

  /** Total row count of the parquet files among `paths` from their
    * footers alone (driver-side metadata reads; -1 if any footer fails —
    * callers treat unknown as non-empty).
    */
  def totalRows(conf: Configuration, paths: Seq[Path]): Long = {
    try {
      var total = 0L
      paths.filter(_.getName.endsWith(".parquet")).foreach { f =>
        val reader = openFooter(conf, f)
        try reader.getFooter.getBlocks.forEach(b => total += b.getRowCount)
        finally reader.close()
      }
      total
    } catch { case scala.util.control.NonFatal(_) => -1L }
  }

  /** Null count of top-level column `colName` over the parquet files
    * among `paths`, from their footers alone; None if a footer fails, a
    * file lacks the column or a chunk does not record its nulls.
    */
  def nullCount(conf: Configuration, paths: Seq[Path], colName: String,
                resolve: (String, String) => Boolean): Option[Long] =
    try {
      import scala.jdk.CollectionConverters._
      val perChunk = paths.filter(_.getName.endsWith(".parquet")).flatMap { f =>
        val reader = openFooter(conf, f)
        try reader.getFooter.getBlocks.asScala.toSeq.map { b =>
          b.getColumns.asScala.find { cc =>
            val pp = cc.getPath.toArray
            pp.length == 1 && resolve(pp(0), colName)
          }.map(_.getStatistics).filter(st => st != null && st.isNumNullsSet)
            .map(_.getNumNulls)
        } finally reader.close()
      }
      if (perChunk.forall(_.isDefined)) Some(perChunk.flatten.sum) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One file's footer → per-column (domain, min, max) + dead columns. */
  private def harvestFile(conf: Configuration, f: Path)
      : (Seq[(String, (Char, Any, Any))], Set[String]) = {
    val acc = scala.collection.mutable.LinkedHashMap[String, (Char, Any, Any)]()
    val dead = scala.collection.mutable.Set[String]()
    val reader = openFooter(conf, f)
    try {
      reader.getFooter.getBlocks.forEach { block =>
        block.getColumns.forEach { cc =>
          val pathParts = cc.getPath.toArray
          if (pathParts.length == 1) { // top-level atomic columns only
            val name = pathParts(0)
            if (!dead(name)) {
              val st = cc.getStatistics
              val rows = block.getRowCount
              val allNull = st != null && st.isNumNullsSet && st.getNumNulls == rows
              if (allNull) {
                // no non-null values in this chunk: contributes nothing
              } else if (st == null || st.isEmpty || !st.hasNonNullValue) {
                dead += name; acc.remove(name)
              } else domainOf(cc.getPrimitiveType) match {
                case None => dead += name; acc.remove(name)
                case Some(dom) =>
                  val mn = physical(dom, st.genericGetMin, cc.getPrimitiveType)
                  val mx = physical(dom, st.genericGetMax, cc.getPrimitiveType)
                  acc.get(name) match {
                    case None => acc(name) = (dom, mn, mx)
                    case Some((d0, m0, x0)) =>
                      if (d0 != dom) { dead += name; acc.remove(name) }
                      else acc(name) = (dom,
                        if (cmp(dom, mn, m0) < 0) mn else m0,
                        if (cmp(dom, mx, x0) > 0) mx else x0)
                  }
              }
            }
          }
        }
      }
    } finally reader.close()
    (acc.toSeq, dead.toSet)
  }

  private def domainOf(pt: PrimitiveType): Option[Char] = {
    import PrimitiveType.PrimitiveTypeName._
    val ann = pt.getLogicalTypeAnnotation
    pt.getPrimitiveTypeName match {
      case INT32 | INT64 => ann match {
        case null => Some('L')
        case _: LogicalTypeAnnotation.IntLogicalTypeAnnotation => Some('L')
        case _: LogicalTypeAnnotation.DateLogicalTypeAnnotation => Some('L')
        case _: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some('L')
        case _ => None // decimals etc. — out of scope, keep conservative
      }
      case FLOAT | DOUBLE => Some('D')
      case BINARY => ann match {
        case _: LogicalTypeAnnotation.StringLogicalTypeAnnotation => Some('S')
        case _ => None
      }
      case _ => None
    }
  }

  /** Normalize a footer stat value into its domain representation. */
  private def physical(dom: Char, v: Comparable[_], pt: PrimitiveType): Any =
    dom match {
      case 'L' =>
        val raw = v match {
          case i: java.lang.Integer => i.longValue()
          case l: java.lang.Long => l.longValue()
        }
        pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            t.getUnit match {
              case LogicalTypeAnnotation.TimeUnit.MILLIS => raw * 1000L
              case LogicalTypeAnnotation.TimeUnit.MICROS => raw
              case LogicalTypeAnnotation.TimeUnit.NANOS => raw / 1000L
            }
          case _ => raw
        }
      case 'D' => v match {
        case f: java.lang.Float => f.doubleValue()
        case d: java.lang.Double => d.doubleValue()
      }
      case 'S' => v.asInstanceOf[org.apache.parquet.io.api.Binary].getBytes
    }

  private def cmp(dom: Char, a: Any, b: Any): Int = dom match {
    case 'L' => java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case 'D' => java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case 'S' => bytesCompare(a.asInstanceOf[Array[Byte]], b.asInstanceOf[Array[Byte]])
  }

  private[graft] def bytesCompare(a: Array[Byte], b: Array[Byte]): Int = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val d = (a(i) & 0xFF) - (b(i) & 0xFF)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }

  /** (min, max) of `colName` over every stats map in `all`, decoded: a
    * Long, Double or UTF-8 byte array. None when `all` is empty, one map
    * lacks the column (no stats, or no non-null value) or domains differ.
    */
  def range(all: Seq[Stats], colName: String,
            resolve: (String, String) => Boolean): Option[(Any, Any)] = {
    val each = all.map(_.collectFirst { case (n, mm) if resolve(n, colName) => mm })
    if (each.isEmpty || each.exists(_.isEmpty)) return None
    val decoded = each.flatten.map { case (mn, mx) => (decode(mn), decode(mx)) }
    val dom = decoded.head._1._1
    if (decoded.exists { case ((d1, _), (d2, _)) => d1 != dom || d2 != dom }) None
    else Some(decoded.map(_._1._2).reduce((a, b) => if (cmp(dom, a, b) <= 0) a else b) ->
      decoded.map(_._2._2).reduce((a, b) => if (cmp(dom, a, b) >= 0) a else b))
  }

  // ---------------------------------------------------------------------
  // Encoding (JSON-safe, quote/backslash-free)
  // ---------------------------------------------------------------------

  private def encode(dom: Char, v: Any): String = dom match {
    case 'L' => s"L:${v.asInstanceOf[Long]}"
    case 'D' => s"D:${v.asInstanceOf[Double]}"
    case 'S' => "S:" + pctEncode(v.asInstanceOf[Array[Byte]])
  }

  /** Human-readable rendering of an encoded stat value (for the
    * `CALL system.zonemaps` inspection surface).
    */
  def display(encoded: String): String = decode(encoded) match {
    case ('S', b: Array[Byte]) =>
      new String(b, java.nio.charset.StandardCharsets.UTF_8)
    case (_, v) => v.toString
  }

  private[storage] def decode(s: String): (Char, Any) = s.charAt(0) match {
    case 'L' => ('L', s.substring(2).toLong)
    case 'D' => ('D', s.substring(2).toDouble)
    case 'S' => ('S', pctDecode(s.substring(2)))
  }

  /** Conservative whitelist: letters, digits, and -._~ pass through;
    * EVERYTHING else is %XX-escaped. The commit log is parsed with
    * fixed-shape regexes, so no JSON structural byte ({}[]",:\ …) may
    * ever appear raw inside a stat value — an embedded '}' would
    * truncate the stats blob and silently drop the whole part from
    * every parsed state.
    */
  private[graft] def pctEncode(bytes: Array[Byte]): String = {
    val sb = new StringBuilder
    bytes.foreach { b =>
      val c = b & 0xFF
      val safe = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (c >= '0' && c <= '9') || c == '-' || c == '.' || c == '_' || c == '~'
      if (safe) sb.append(c.toChar)
      else sb.append(f"%%$c%02X")
    }
    sb.toString
  }

  private[graft] def pctDecode(s: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '%') {
        out.write(Integer.parseInt(s.substring(i + 1, i + 3), 16)); i += 3
      } else { out.write(s.charAt(i).toInt); i += 1 }
    }
    out.toByteArray
  }

  // ---------------------------------------------------------------------
  // Predicates
  // ---------------------------------------------------------------------

  /** One normalized, pruning-usable conjunct: `col op value`. `op` ∈
    * {`=`, `<`, `<=`, `>`, `>=`}; [[InSet]] is a disjunction of `=`.
    */
  sealed trait Pred { def colName: String }
  final case class Cmp(colName: String, op: String, value: Any) extends Pred
  final case class InSet(colName: String, values: Seq[Any]) extends Pred

  /** Top-level AND conjuncts of a Column that are usable for pruning.
    * Anything else (OR trees, functions of columns, unsupported types) is
    * simply not extracted — the full condition is still applied as a row
    * filter by the caller, so pruning misses cost nothing but I/O.
    *
    * Spark 4 Columns are ColumnNode trees, not catalyst expressions, so
    * the condition is ANALYZED against a zero-row relation with the
    * table's schema: that resolves attributes, inserts the casts the real
    * filter will use (a date literal compares as an internal epoch-day
    * int, exactly the L domain), and lets constant subtrees fold.
    * Analysis errors (unknown column etc.) yield no pruning — the same
    * condition will raise the same error on the real read.
    */
  def predsOf(spark: org.apache.spark.sql.SparkSession, schema: StructType,
              cond: Column): Seq[Pred] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter => LFilter}
    try {
      val empty = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      val analyzed = empty.filter(cond).queryExecution.analyzed
      val condExpr = analyzed.collectFirst { case LFilter(c, _) => c }
      condExpr.toSeq.flatMap { c =>
        val folded = c.transformUp {
          case e if e.foldable && !e.isInstanceOf[Literal] && e.deterministic =>
            Literal.create(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty), e.dataType)
        }
        predsOf(conjuncts(folded))
      }
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
  }

  /** The pruning-usable ones among resolved AND conjuncts. */
  def predsOf(conjuncts: Seq[Expression]): Seq[Pred] = conjuncts.flatMap(predOf)

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.nameParts.last)
    case a: Attribute => Some(a.name)
    case _ => None
  }

  private def predOf(e: Expression): Option[Pred] = e match {
    case EqualTo(a, l: Literal) => attrName(a).flatMap(n => litVal(l).map(Cmp(n, "=", _)))
    case EqualTo(l: Literal, a) => attrName(a).flatMap(n => litVal(l).map(Cmp(n, "=", _)))
    case EqualNullSafe(a, l: Literal) if l.value != null =>
      attrName(a).flatMap(n => litVal(l).map(Cmp(n, "=", _)))
    case GreaterThan(a, l: Literal) => attrName(a).flatMap(n => litVal(l).map(Cmp(n, ">", _)))
    case GreaterThan(l: Literal, a) => attrName(a).flatMap(n => litVal(l).map(Cmp(n, "<", _)))
    case GreaterThanOrEqual(a, l: Literal) => attrName(a).flatMap(n => litVal(l).map(Cmp(n, ">=", _)))
    case GreaterThanOrEqual(l: Literal, a) => attrName(a).flatMap(n => litVal(l).map(Cmp(n, "<=", _)))
    case LessThan(a, l: Literal) => attrName(a).flatMap(n => litVal(l).map(Cmp(n, "<", _)))
    case LessThan(l: Literal, a) => attrName(a).flatMap(n => litVal(l).map(Cmp(n, ">", _)))
    case LessThanOrEqual(a, l: Literal) => attrName(a).flatMap(n => litVal(l).map(Cmp(n, "<=", _)))
    case LessThanOrEqual(l: Literal, a) => attrName(a).flatMap(n => litVal(l).map(Cmp(n, ">=", _)))
    case In(a, ls) if ls.nonEmpty && ls.forall(_.isInstanceOf[Literal]) =>
      inSet(a, ls.map(_.asInstanceOf[Literal]))
    // the optimizer's form of an IN list longer than
    // spark.sql.optimizer.inSetConversionThreshold (OptimizeIn)
    case CInSet(a, vs) if vs.nonEmpty =>
      inSet(a, vs.toSeq.map(v => Literal(v, a.dataType)))
    case _ => None
  }

  private def inSet(a: Expression, ls: Seq[Literal]): Option[Pred] =
    attrName(a).flatMap { n =>
      val vs = ls.map(litVal)
      if (vs.forall(_.isDefined)) Some(InSet(n, vs.flatten)) else None
    }

  /** Catalyst literal → domain value. Catalyst internals already match
    * parquet physical forms (DATE = epoch days int, TIMESTAMP = micros).
    */
  private def litVal(l: Literal): Option[Any] = (l.dataType, l.value) match {
    case (_, null) => None
    case (ByteType | ShortType | IntegerType | LongType, v) =>
      Some(v.asInstanceOf[Number].longValue())
    case (DateType, v) => Some(v.asInstanceOf[Number].longValue())
    case (TimestampType | TimestampNTZType, v) =>
      Some(v.asInstanceOf[Number].longValue())
    case (FloatType, v) => Some(v.asInstanceOf[Float].toDouble)
    case (DoubleType, v) => Some(v.asInstanceOf[Double])
    case (StringType, v) => Some(v.asInstanceOf[UTF8String].getBytes)
    case _ => None
  }

  // ---------------------------------------------------------------------
  // Pruning decision
  // ---------------------------------------------------------------------

  /** Can a part with `stats` possibly satisfy ALL `preds`? Conservative:
    * unknown column / domain mismatch ⇒ true.
    */
  def mayMatch(stats: Stats, preds: Seq[Pred],
               resolve: (String, String) => Boolean): Boolean =
    preds.forall {
      case Cmp(c, op, v) => cmpMayMatch(stats, c, op, v, resolve)
      case InSet(c, vs) => vs.exists(v => cmpMayMatch(stats, c, "=", v, resolve))
    }

  /** Can a part with `stats` hold the value whose string form (a
    * partition directory's value) is `value`, in column `colName` of type
    * `dt`? The string is cast back to `dt` as Spark casts it; anything
    * that does not cast keeps the part.
    */
  def mayContain(stats: Stats, colName: String, dt: DataType, value: String,
                 resolve: (String, String) => Boolean): Boolean =
    try {
      import org.apache.spark.sql.catalyst.expressions.Cast
      val v = Cast(Literal(value), dt,
        Some(org.apache.spark.sql.internal.SQLConf.get.sessionLocalTimeZone)).eval()
      litVal(Literal(v, dt)).forall(cmpMayMatch(stats, colName, "=", _, resolve))
    } catch { case scala.util.control.NonFatal(_) => true }

  private def cmpMayMatch(stats: Stats, colName: String, op: String, v: Any,
                          resolve: (String, String) => Boolean): Boolean = {
    val entry = stats.collectFirst {
      case (n, mm) if resolve(n, colName) => mm
    }
    entry match {
      case None => true
      case Some((minS, maxS)) =>
        val (dom, mn) = decode(minS)
        val (_, mx) = decode(maxS)
        coerce(dom, v) match {
          case None => true // type mismatch — keep the part
          case Some(value) if dom == 'D' =>
            // PRIMITIVE double comparisons, not Double.compare: Spark's
            // row filters treat -0.0 = 0.0 as true, so pruning must too
            // (a part with min=max=-0.0 must survive `col = 0.0`). NaN in
            // any bound or in the predicate value ⇒ keep conservatively
            // (Double.compare's NaN>everything would prune wrongly).
            val mnD = mn.asInstanceOf[Double]
            val mxD = mx.asInstanceOf[Double]
            val vD = value.asInstanceOf[Double]
            if (mnD.isNaN || mxD.isNaN || vD.isNaN) true
            else op match {
              case "=" => mnD <= vD && vD <= mxD
              case ">" => mxD > vD
              case ">=" => mxD >= vD
              case "<" => mnD < vD
              case "<=" => mnD <= vD
              case _ => true
            }
          case Some(value) => op match {
            case "=" => cmp(dom, mn, value) <= 0 && cmp(dom, value, mx) <= 0
            case ">" => cmp(dom, mx, value) > 0
            case ">=" => cmp(dom, mx, value) >= 0
            case "<" => cmp(dom, mn, value) < 0
            case "<=" => cmp(dom, mn, value) <= 0
            case _ => true
          }
        }
    }
  }

  /** Fit a predicate value into the stats domain; None = incomparable.
    * A long literal against a D column (or double against L) compares in
    * double space — exact for |v| < 2^53, and pruning stays conservative
    * because the compared bounds are the part's own min/max.
    */
  private def coerce(dom: Char, v: Any): Option[Any] = (dom, v) match {
    case ('L', l: Long) => Some(l)
    case ('D', d: Double) => Some(d)
    case ('D', l: Long) => Some(l.toDouble)
    case ('S', b: Array[Byte]) => Some(b)
    case _ => None
  }
}
