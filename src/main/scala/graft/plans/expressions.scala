package graft.plans

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Custom Catalyst expressions for the hot paths where composing built-in
  * higher-order functions would cost one closure dispatch (or a full regex
  * pass) per element. Each expression is a single static-kernel call
  * ([[ExprKernels]]) from BOTH the interpreted eval and `doGenCode`, so the
  * surrounding projection stays inside one WholeStageCodegen span — no
  * CodegenFallback boxing.
  */
object expressions {

  private val K = "graft.plans.ExprKernels"

  /** 64-bit SimHash of whitespace-tokenized text. Near-duplicate docs
    * differ in few bits (compare with bit_count(a^b)).
    */
  case class SimHash64(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      ExprKernels.simhash64(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.simhash64($c)")
    override protected def withNewChildInternal(c: Expression): SimHash64 = copy(c)
    override def prettyName: String = "simhash64"
  }

  /** 60-bit md5-based SimHash — the SQL-reproducible fingerprint spec
    * (see [[ExprKernels.md5SimHash60]]); one fused scan instead of
    * explode + md5 + 60 aggregates.
    */
  case class Md5SimHash60(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      ExprKernels.md5SimHash60(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.md5SimHash60($c)")
    override protected def withNewChildInternal(c: Expression): Md5SimHash60 = copy(c)
    override def prettyName: String = "md5_simhash60"
  }

  /** First 60 bits of md5 as a long — fused, value-identical form of the
    * catalog's `conv(substring(md5(x), 1, 15), 16, 10)` digest idiom (see
    * [[ExprKernels.md5Head60]]). Non-nullable over non-nullable input, so
    * join-key `isnotnull` pushdowns over digest-derived keys fold away
    * instead of re-running the digest per row.
    */
  case class Md5Head60(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      ExprKernels.md5Head60(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.md5Head60($c)")
    override protected def withNewChildInternal(c: Expression): Md5Head60 = copy(c)
    override def prettyName: String = "md5_head60"
  }

  /** Cosine similarity of two float-array embeddings — one fused loop.
    * NULL if either side is NULL or lengths differ; 0.0 on zero norm.
    */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any =
      ExprKernels.cosineSimilarity(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        java.lang.Double ${ev.value}_r = $K.cosineSimilarity($a, $b);
        if (${ev.value}_r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ${ev.value}_r.doubleValue(); }""")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
    override def prettyName: String = "cosine_similarity"
  }

  /** Jaro-Winkler similarity of two strings — the record-linkage metric
    * ([[ExprKernels.jaroWinkler]]); fused, codegen'd, no UDF boxing.
    */
  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(l: Any, r: Any): Any =
      ExprKernels.jaroWinkler(l.asInstanceOf[UTF8String],
        r.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.jaroWinkler($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
    override def prettyName: String = "jaro_winkler"
  }

  /** Dot product against a constant query vector (broadcast as a literal
    * reference object) — the ANN scoring hot loop.
    */
  case class DotConst(child: Expression, query: Array[Double])
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(v: Any): Any =
      java.lang.Double.valueOf(ExprKernels.dotConst(v.asInstanceOf[ArrayData], query))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val q = ctx.addReferenceObj("query", query, "double[]")
      defineCodeGen(ctx, ev, c => s"$K.dotConst($c, $q)")
    }
    override protected def withNewChildInternal(c: Expression): DotConst = copy(child = c)
    override def prettyName: String = "dot_const"
  }

  /** Product-quantization encode (see [[graft.operators.Similarity]] PQ
    * section): vector → m nearest-codeword ids. Codebooks ride the plan
    * as a reference object; the expression stays in WholeStageCodegen.
    */
  case class PqEncodeExpr(child: Expression,
      codebooks: Array[Array[Array[Double]]]) extends UnaryExpression {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    // float vectors (storage form) and double vectors (IVF-PQ residuals)
    // share the loop; the element accessor is the only difference. Any
    // other element type (int8-quantized arrays, long ids) must fail
    // ANALYSIS-loudly — getFloat on an int slot would reinterpret bits
    // into silently-garbage codes.
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"pq_encode needs array<float> or array<double>, got ${other.sql}")
    }
    private def kernel: String = child.dataType match {
      case ArrayType(DoubleType, _) => "pqEncodeD"
      case _                        => "pqEncode"
    }
    override def nullSafeEval(v: Any): Any =
      if (kernel == "pqEncodeD")
        ExprKernels.pqEncodeD(v.asInstanceOf[ArrayData], codebooks)
      else ExprKernels.pqEncode(v.asInstanceOf[ArrayData], codebooks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val b = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
      val fn = kernel
      defineCodeGen(ctx, ev, c => s"$K.$fn($c, $b)")
    }
    override protected def withNewChildInternal(c: Expression): PqEncodeExpr =
      copy(child = c)
    override def prettyName: String = "pq_encode"
  }

  /** ADC lookup-table score over a PQ code column — the PQ ANN hot loop:
    * m table reads per row, query LUT shared via one reference object.
    */
  case class PqAdcExpr(child: Expression, lut: Array[Array[Double]])
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(v: Any): Any =
      java.lang.Double.valueOf(ExprKernels.pqAdc(v.asInstanceOf[ArrayData], lut))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val l = ctx.addReferenceObj("lut", lut, "double[][]")
      defineCodeGen(ctx, ev, c => s"$K.pqAdc($c, $l)")
    }
    override protected def withNewChildInternal(c: Expression): PqAdcExpr =
      copy(child = c)
    override def prettyName: String = "pq_adc"
  }

  /** JL ±1 random projection of a float-vector column — one fused kernel
    * call per row (see [[ExprKernels.randomProject]]); masks carry the
    * sign matrix packed one long per output dimension.
    */
  case class RandomProject(child: Expression, masks: Array[Long])
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      ExprKernels.randomProject(v.asInstanceOf[ArrayData], masks)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val m = ctx.addReferenceObj("masks", masks, "long[]")
      defineCodeGen(ctx, ev, c => s"$K.randomProject($c, $m)")
    }
    override protected def withNewChildInternal(c: Expression): RandomProject =
      copy(child = c)
    override def prettyName: String = "random_project"
  }

  /** Span-scrub reassembly (the [[graft.operators.Dedup]] substring/
    * repetition scrubbers' tail): merge-walk a doc's pos-sorted tokens
    * against its sorted covered positions in ONE O(tokens + covered)
    * pass → `struct(text, kept, dropped)`. Replaces a per-token
    * `array_contains` probe that degraded to O(tokens × covered) on
    * mass-duplicated documents.
    */
  case class SpanScrub(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("text", StringType, nullable = false),
      StructField("kept", LongType, nullable = false),
      StructField("dropped", LongType, nullable = false)))
    override def nullSafeEval(l: Any, r: Any): Any =
      ExprKernels.spanScrub(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) => s"$K.spanScrub($a, $b)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
    override def prettyName: String = "span_scrub"
  }

  /** Membership probe against a pre-built key bloom filter (the explicit
    * bloom-join pruning primitive — see [[graft.operators.BloomJoin]]).
    * The filter rides the plan as a reference object, the probe is one
    * static call, and the expression stays inside WholeStageCodegen, so
    * the pre-shuffle filter costs a hash per row, not a join.
    *
    * Probe encoding MUST mirror how `DataFrameStatFunctions.bloomFilter`
    * inserted the keys: integral types via the long probe, strings via
    * their UTF-8 bytes.
    */
  case class BloomMightContain(child: Expression,
      bf: org.apache.spark.util.sketch.BloomFilter)
      extends UnaryExpression {
    override def dataType: DataType = BooleanType
    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ByteType | ShortType | IntegerType | LongType | StringType =>
        TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"bloom_might_contain needs an integral or string key, got $t")
    }
    override def nullSafeEval(v: Any): Any = v match {
      case l: Long => bf.mightContainLong(l)
      case i: Int => bf.mightContainLong(i.toLong)
      case s: Short => bf.mightContainLong(s.toLong)
      case b: Byte => bf.mightContainLong(b.toLong)
      case u: UTF8String => bf.mightContainBinary(u.getBytes)
    }
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val b = ctx.addReferenceObj("bloom", bf,
        classOf[org.apache.spark.util.sketch.BloomFilter].getName)
      child.dataType match {
        case StringType =>
          defineCodeGen(ctx, ev, c => s"$b.mightContainBinary($c.getBytes())")
        case _ =>
          defineCodeGen(ctx, ev, c => s"$b.mightContainLong((long)$c)")
      }
    }
    override protected def withNewChildInternal(c: Expression) = copy(child = c)
    override def prettyName: String = "bloom_might_contain"
  }

  /** The normalized text itself (the string [[RollingFingerprint]]
    * hashes): lowercased, whitespace runs collapsed, ends trimmed. Feed
    * to md5 for a collision-free 128-bit content key.
    */
  case class NormalizedText(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      ExprKernels.normalizeText(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.normalizeText($c)")
    override protected def withNewChildInternal(c: Expression) = copy(c)
    override def prettyName: String = "normalize_text"
  }

  /** Unicode cleanup pass: NFC + control-strip + whitespace collapse +
    * trim, case preserved (see [[ExprKernels.cleanText]]). The standard
    * pre-tokenization canonicalization for training corpora.
    */
  case class CleanText(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      ExprKernels.cleanText(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.cleanText($c)")
    override protected def withNewChildInternal(c: Expression) = copy(c)
    override def prettyName: String = "clean_text"
  }

  /** Rolling-hash document fingerprint over normalized text: lowercased,
    * whitespace runs collapsed, leading/trailing whitespace ignored.
    */
  case class RollingFingerprint(child: Expression) extends UnaryExpression {
    override def dataType: DataType = LongType
    override def nullSafeEval(v: Any): Any =
      ExprKernels.rollingFingerprint(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.rollingFingerprint($c)")
    override protected def withNewChildInternal(c: Expression) = copy(c)
    override def prettyName: String = "rolling_fingerprint"
  }

  /** One-pass k-wise MinHash signature of an array<string> shingle set:
    * each shingle string-hashed once, k derived integer mixes.
    */
  case class MinHashSig(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      ExprKernels.minhashSig(v.asInstanceOf[ArrayData], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.minhashSig($c, $k)")
    override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
    override def prettyName: String = "minhash_sig"
  }

  /** Fused tokenize → k-token shingle → MinHash signature in one scan of
    * the raw text — no shingle array is ever materialized. Tokens are
    * lowercased non-whitespace runs; shorter-than-k docs hash their whole
    * token sequence as one shingle (mirrors Dedup.shingles' degenerate
    * case).
    */
  case class MinHashText(child: Expression, shingleSize: Int, k: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      ExprKernels.minhashText(v.asInstanceOf[UTF8String], shingleSize, k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.minhashText($c, $shingleSize, $k)")
    override protected def withNewChildInternal(c: Expression): MinHashText = copy(child = c)
    override def prettyName: String = "minhash_text"
  }

  /** Distinct word k-shingles in one scan — byte-identical to the
    * declarative split/transform/slice/concat_ws/array_distinct chain it
    * replaces (see [[ExprKernels.shingleSet]]).
    */
  case class ShingleSet(child: Expression, k: Int) extends UnaryExpression {
    override def dataType: DataType =
      ArrayType(StringType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      ExprKernels.shingleSet(v.asInstanceOf[UTF8String], k)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.shingleSet($c, $k)")
    override protected def withNewChildInternal(c: Expression): ShingleSet = copy(child = c)
    override def prettyName: String = "shingle_set"
  }

  /** Fraction of equal components between two equal-length signature arrays
    * — the unbiased MinHash estimate of Jaccard similarity.
    */
  case class SigAgreement(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def nullSafeEval(l: Any, r: Any): Any =
      ExprKernels.sigAgreement(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => s"""
        java.lang.Double ${ev.value}_r = $K.sigAgreement($a, $b);
        if (${ev.value}_r == null) { ${ev.isNull} = true; }
        else { ${ev.value} = ${ev.value}_r.doubleValue(); }""")
    override protected def withNewChildrenInternal(l: Expression, r: Expression) =
      copy(left = l, right = r)
    override def prettyName: String = "sig_agreement"
  }

  /** Single-pass text statistics: one scan of the string replaces five
    * regex passes. Tokens = runs of non-[Java-regex \s] chars; letters =
    * \p{L}; uppers = \p{Lu}; punct = ASCII \p{Punct}; stopword compare on
    * the lowercased token. (Struct output — interpreted eval only; the
    * scalar hot paths below are codegen'd.)
    */
  case class TextStats(child: Expression, stopwords: Set[String])
      extends UnaryExpression with codegen.CodegenFallback {
    override def dataType: DataType = StructType(Seq(
      StructField("n_chars", IntegerType, nullable = false),
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("n_nonspace", IntegerType, nullable = false),
      StructField("n_punct", IntegerType, nullable = false),
      StructField("n_letters", IntegerType, nullable = false),
      StructField("n_uppers", IntegerType, nullable = false),
      StructField("n_stopwords", IntegerType, nullable = false),
      StructField("n_bpe_tokens", IntegerType, nullable = false)))

    private def isJavaRegexSpace(c: Char): Boolean =
      c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'
    private def isAsciiPunct(c: Char): Boolean =
      (c >= '!' && c <= '/') || (c >= ':' && c <= '@') ||
        (c >= '[' && c <= '`') || (c >= '{' && c <= '~')

    override def nullSafeEval(v: Any): Any = {
      val s = v.asInstanceOf[UTF8String].toString
      val n = s.length
      var nTokens = 0; var nonspace = 0; var punct = 0
      var letters = 0; var uppers = 0; var stops = 0; var bpe = 0
      val tok = new java.lang.StringBuilder(24)
      var i = 0
      while (i <= n) {
        val atEnd = i == n
        val c = if (atEnd) ' ' else s.charAt(i)
        if (!atEnd && !isJavaRegexSpace(c)) {
          nonspace += 1
          if (isAsciiPunct(c)) punct += 1
          if (Character.isLetter(c)) {
            letters += 1
            if (Character.getType(c) == Character.UPPERCASE_LETTER) uppers += 1
          }
          tok.append(Character.toLowerCase(c))
        } else if (tok.length > 0) {
          nTokens += 1
          bpe += math.max(1, math.ceil(tok.length / 4.0).toInt)
          if (stopwords.contains(tok.toString)) stops += 1
          tok.setLength(0)
        }
        i += 1
      }
      InternalRow(n, nTokens, nonspace, punct, letters, uppers, stops, bpe)
    }
    override protected def withNewChildInternal(c: Expression): TextStats = copy(child = c)
    override def prettyName: String = "text_stats"
  }

  /** Per-document word n-gram hashes for the decontamination pre-filter —
    * see [[ExprKernels.ngramHashes]]. Codegen'd single static call.
    */
  case class NgramHashes(child: Expression, n: Int) extends UnaryExpression {
    require(n > 0, "n-gram size must be positive")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(v: Any): Any =
      ExprKernels.ngramHashes(v.asInstanceOf[UTF8String], n)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.ngramHashes($c, $n)")
    override protected def withNewChildInternal(c: Expression): NgramHashes = copy(child = c)
    override def prettyName: String = "ngram_hashes"
  }

  /** Word-trigram repetition counts (Gopher-style duplicated-fraction
    * signal) in one fused scan — see [[ExprKernels.trigramStats]] for the
    * exact token/distinctness contract. Codegen'd: one static call, stays
    * inside the whole-stage span.
    */
  case class TrigramStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_grams", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false)))
    override def nullSafeEval(v: Any): Any =
      ExprKernels.trigramStats(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.trigramStats($c)")
    override protected def withNewChildInternal(c: Expression): TrigramStats = copy(child = c)
    override def prettyName: String = "trigram_stats"
  }

  /** Code-point entropy stats (gibberish/boilerplate screen) in one fused
    * scan — see [[ExprKernels.charEntropyStats]] for the exact contract.
    * Codegen'd: one static call, stays inside the whole-stage span.
    */
  case class CharEntropyStats(child: Expression) extends UnaryExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("n_cp", IntegerType, nullable = false),
      StructField("n_distinct", IntegerType, nullable = false),
      StructField("entropy", DoubleType, nullable = false)))
    override def nullSafeEval(v: Any): Any =
      ExprKernels.charEntropyStats(v.asInstanceOf[UTF8String])
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => s"$K.charEntropyStats($c)")
    override protected def withNewChildInternal(c: Expression): CharEntropyStats = copy(child = c)
    override def prettyName: String = "char_entropy_stats"
  }

  /** Entire composite quality score in ONE text scan, Spark-ROUND HALF_UP
    * at 4 dp — mirrors TextFunctions.qualityScoreFromStats term by term so
    * the DuckDB oracle stays bit-exact.
    */
  case class QualityScore(child: Expression, stopwords: Set[String])
      extends UnaryExpression {
    override def dataType: DataType = DoubleType
    override def nullSafeEval(v: Any): Any =
      java.lang.Double.valueOf(
        ExprKernels.qualityScore(v.asInstanceOf[UTF8String], stopwords))
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val sw = ctx.addReferenceObj("stopwords", stopwords,
        "scala.collection.immutable.Set")
      defineCodeGen(ctx, ev, c => s"$K.qualityScore($c, $sw)")
    }
    override protected def withNewChildInternal(c: Expression): QualityScore = copy(child = c)
    override def prettyName: String = "quality_score"
  }

  /** Marker-token language-ID in one scan; tie-break en > de > fr > es. */
  case class LangId(child: Expression, en: Set[String], de: Set[String],
                    fr: Set[String], es: Set[String])
      extends UnaryExpression {
    override def dataType: DataType = StringType
    override def nullSafeEval(v: Any): Any =
      ExprKernels.langId(v.asInstanceOf[UTF8String], en, de, fr, es)
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val t = "scala.collection.immutable.Set"
      val rEn = ctx.addReferenceObj("en", en, t)
      val rDe = ctx.addReferenceObj("de", de, t)
      val rFr = ctx.addReferenceObj("fr", fr, t)
      val rEs = ctx.addReferenceObj("es", es, t)
      defineCodeGen(ctx, ev, c => s"$K.langId($c, $rEn, $rDe, $rFr, $rEs)")
    }
    override protected def withNewChildInternal(c: Expression): LangId = copy(child = c)
    override def prettyName: String = "lang_id"
  }

  /** A per-run constant (a batch id, a batch timestamp) that reaches the
    * generated code as a reference object, not as an inlined Java literal,
    * so the next run's plan generates the same code and reuses the
    * compiled class. Not foldable, or constant folding would make it a
    * literal again. Keep real literals where a predicate must push down to
    * Parquet.
    */
  case class RunValue(value: Long, dataType: DataType) extends LeafExpression {
    override def nullable: Boolean = false
    override def foldable: Boolean = false
    override def eval(input: InternalRow): Any = value
    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val ref = ctx.addReferenceObj("runValue", value, "java.lang.Long")
      ev.copy(code = code"final long ${ev.value} = $ref.longValue();",
        isNull = FalseLiteral)
    }
  }

  // ----- Column wrappers ---------------------------------------------------

  private def col(e: Expression): Column = ColumnBridge.column(e)
  private def ex(c: Column): Expression = ColumnBridge.expression(c)

  def simhash64(c: Column): Column = col(SimHash64(ex(c)))
  def normalizedText(c: Column): Column = col(NormalizedText(ex(c)))
  def cleanText(c: Column): Column = col(CleanText(ex(c)))
  def trigramStats(c: Column): Column = col(TrigramStats(ex(c)))
  def charEntropyStats(c: Column): Column = col(CharEntropyStats(ex(c)))
  def ngramHashes(c: Column, n: Int): Column = col(NgramHashes(ex(c), n))
  def md5SimHash60(c: Column): Column = col(Md5SimHash60(ex(c)))
  def md5Head60(c: Column): Column = col(Md5Head60(ex(c)))
  def minhashSig(c: Column, k: Int): Column = col(MinHashSig(ex(c), k))
  def shingleSet(c: Column, k: Int): Column = col(ShingleSet(ex(c), k))
  def minhashText(c: Column, shingleSize: Int, k: Int): Column =
    col(MinHashText(ex(c), shingleSize, k))
  def sigAgreement(a: Column, b: Column): Column = col(SigAgreement(ex(a), ex(b)))
  def textStats(c: Column, stopwords: Set[String]): Column =
    col(TextStats(ex(c), stopwords))
  def qualityScore(c: Column, stopwords: Set[String]): Column =
    col(QualityScore(ex(c), stopwords))
  def langId(c: Column, en: Set[String], de: Set[String],
             fr: Set[String], es: Set[String]): Column =
    col(LangId(ex(c), en, de, fr, es))
  def cosineSimilarity(a: Column, b: Column): Column =
    col(CosineSimilarity(ex(a), ex(b)))
  def jaroWinkler(a: Column, b: Column): Column =
    col(JaroWinkler(ex(a), ex(b)))
  def dotConst(c: Column, q: Array[Double]): Column = col(DotConst(ex(c), q))
  def randomProject(c: Column, masks: Array[Long]): Column =
    col(RandomProject(ex(c), masks))
  def pqEncodeCol(c: Column, codebooks: Array[Array[Array[Double]]]): Column =
    col(PqEncodeExpr(ex(c), codebooks))
  def pqAdcCol(c: Column, lut: Array[Array[Double]]): Column =
    col(PqAdcExpr(ex(c), lut))
  def spanScrubCol(sorted: Column, cov: Column): Column =
    col(SpanScrub(ex(sorted), ex(cov)))
  def rollingFingerprint(c: Column): Column = col(RollingFingerprint(ex(c)))
  def bloomMightContain(c: Column,
      bf: org.apache.spark.util.sketch.BloomFilter): Column =
    col(BloomMightContain(ex(c), bf))
  /** `v` as a BIGINT (or, with `dt`, any long-backed type) [[RunValue]]. */
  def runValue(v: Long, dt: DataType = LongType): Column = col(RunValue(v, dt))
  /** This instant as a TIMESTAMP [[RunValue]] (`current_timestamp()` fixed
    * at call time).
    */
  def runTimestamp(): Column = runValue(
    org.apache.spark.sql.catalyst.util.DateTimeUtils.instantToMicros(
      java.time.Instant.now()), TimestampType)
}
