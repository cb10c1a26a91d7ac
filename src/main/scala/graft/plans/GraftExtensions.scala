package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.TextFunctions

/** SparkSessionExtensions module: registers graft's custom Catalyst
  * expressions as NATIVE SQL functions, so `spark.sql("SELECT
  * simhash64(text) ...")` plans the codegen'd expression directly — no
  * Scala-UDF serialization boundary, full WholeStageCodegen.
  *
  * Activate with `.withExtensions(new GraftExtensions)` on the builder or
  * `spark.sql.extensions=graft.plans.GraftExtensions` in config
  * (GraftSession does the former).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft.plans.expressions", null, name, usage, "")

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // SQL reads of graft catalog tables plan the table's own DataFrame
    // (graft.sql.GraftReadRule); it runs first, so a MERGE source is
    // already the table's plan when the MERGE rewrite takes it
    ext.injectPostHocResolutionRule(_ => graft.sql.GraftReadRule)
    // SQL MERGE INTO over graft catalog tables — post-hoc resolution
    // rewrite into an eagerly-executed command (see graft.sql.GraftMergeRule)
    ext.injectPostHocResolutionRule(spark => graft.sql.GraftMergeRule(spark))
    // part skipping for every filtered table read, DataFrame or SQL
    // (graft.storage.VersionedTable.SkipParts)
    ext.injectOptimizerRule(_ => graft.storage.VersionedTable.SkipParts)

    ext.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(text) - 64-bit SimHash of whitespace-tokenized text"),
      (args: Seq[Expression]) => expressions.SimHash64(args.head)))

    ext.injectFunction((FunctionIdentifier("md5_simhash60"),
      info("md5_simhash60",
        "md5_simhash60(text) - 60-bit SimHash with md5 word hashes (ANSI-SQL-reproducible spec)"),
      (args: Seq[Expression]) => expressions.Md5SimHash60(args.head)))

    ext.injectFunction((FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity", "cosine_similarity(a, b) - cosine of two float arrays"),
      (args: Seq[Expression]) => expressions.CosineSimilarity(args(0), args(1))))

    ext.injectFunction((FunctionIdentifier("rolling_fingerprint"),
      info("rolling_fingerprint",
        "rolling_fingerprint(text) - whitespace/case-normalized content hash"),
      (args: Seq[Expression]) => expressions.RollingFingerprint(args.head)))

    ext.injectFunction((FunctionIdentifier("normalize_text"),
      info("normalize_text",
        "normalize_text(text) - the whitespace/case normalization rolling_fingerprint hashes"),
      (args: Seq[Expression]) => expressions.NormalizedText(args.head)))

    ext.injectFunction((FunctionIdentifier("clean_text"),
      info("clean_text",
        "clean_text(text) - NFC composition + control-char strip + whitespace collapse, case preserved"),
      (args: Seq[Expression]) => expressions.CleanText(args.head)))

    ext.injectFunction((FunctionIdentifier("minhash_text"),
      info("minhash_text",
        "minhash_text(text, shingleSize, k) - fused shingle MinHash signature"),
      (args: Seq[Expression]) => expressions.MinHashText(args(0),
        intArg(args(1), "shingleSize"), intArg(args(2), "k"))))

    ext.injectFunction((FunctionIdentifier("sig_agreement"),
      info("sig_agreement",
        "sig_agreement(a, b) - fraction of matching MinHash components"),
      (args: Seq[Expression]) => expressions.SigAgreement(args(0), args(1))))

    ext.injectFunction((FunctionIdentifier("quality_score"),
      info("quality_score", "quality_score(text) - composite doc quality in [0,1]"),
      (args: Seq[Expression]) =>
        expressions.QualityScore(args.head, TextFunctions.enStopwords.toSet)))

    ext.injectFunction((FunctionIdentifier("trigram_stats"),
      info("trigram_stats",
        "trigram_stats(text) - struct(n_grams, n_distinct) word-trigram repetition counts"),
      (args: Seq[Expression]) => expressions.TrigramStats(args.head)))

    ext.injectFunction((FunctionIdentifier("ngram_hashes"),
      info("ngram_hashes",
        "ngram_hashes(text, n) - 64-bit hashes of the word n-grams (decontamination pre-filter)"),
      (args: Seq[Expression]) =>
        expressions.NgramHashes(args(0), intArg(args(1), "n"))))

    ext.injectFunction((FunctionIdentifier("lang_id"),
      info("lang_id", "lang_id(text) - marker-token language id (en/de/fr/es/und)"),
      (args: Seq[Expression]) => expressions.LangId(args.head,
        Set("the", "and", "of", "is", "that", "with", "for", "this"),
        Set("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
        Set("le", "la", "les", "et", "est", "une", "que", "pas"),
        Set("el", "los", "las", "es", "que", "una", "por", "con"))))
  }
}
