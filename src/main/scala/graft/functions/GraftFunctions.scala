package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.graftbridge.ColumnBridge

/** SQL-surface registration of the library's native expressions, so
  * `spark.sql` users get them as first-class functions:
  *
  * {{{
  * GraftFunctions.register(spark)
  * spark.sql("SELECT cosine_similarity(a.embedding, b.embedding) ...")
  * }}}
  */
object GraftFunctions {

  private def intLit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** Lift a Column→Column composition into an expression builder, so
    * operators composed from `functions._` register exactly like native
    * expressions.
    */
  private def composed(f: Seq[org.apache.spark.sql.Column] => org.apache.spark.sql.Column)
      : Seq[Expression] => Expression =
    es => ColumnBridge.eagerExpression(f(es.map(ColumnBridge.column)))

  val all: Map[String, Seq[Expression] => Expression] = Map(
    "cosine_similarity" -> (es => CosineSimilarity(es(0), es(1))),
    "simhash64" -> (es => SimHash64(es(0))),
    "simhash_text" -> (es => SimHashText(es(0))),
    "word_shingles" -> (es => WordShingles(es(0), intLit(es(1), "shingle size"))),
    "minhash_signature" -> (es => MinHashSignature(es(0), intLit(es(1), "num hashes"))),
    "sorted_intersect_count" -> (es => SortedIntersectCount(es(0), es(1))),
    "misra_gries" -> (es => MisraGriesAgg(es(0), intLit(es(1), "k"))
      .toAggregateExpression()),
    "rolling_fingerprint" -> (es => RollingFingerprint(es(0),
      intLit(es(1), "k-gram size"), intLit(es(2), "window"))),
    // text-pipeline surface (Column compositions over built-ins)
    "graft_tokens" -> composed(cs => TextFunctions.tokens(cs(0))),
    "token_count" -> composed(cs => TextFunctions.tokenCount(cs(0))),
    "quality_score" -> composed(cs => TextFunctions.qualityScore(cs(0))),
    "lang_id" -> composed(cs => TextFunctions.langId(cs(0))),
    "scrub_pii" -> composed(cs => TextFunctions.scrubPii(cs(0))),
    "strip_html" -> composed(cs => TextFunctions.stripHtml(cs(0))),
    "url_host" -> composed(cs => TextFunctions.urlHost(cs(0))),
    "url_canonical" -> composed(cs => TextFunctions.canonicalUrl(cs(0))),
    "pii_counts" -> composed(cs => TextFunctions.piiCounts(cs(0))),
    "bpe_tokens" -> composed(cs => TextFunctions.bpeTokens(cs(0))),
    "bpe_token_count" -> composed(cs => TextFunctions.bpeTokenCount(cs(0))),
    // vocab-driven merges (the bundled table; a custom vocab goes through
    // the Column API, which takes the BpeVocab object)
    "bpe_encode" -> (es => BpeEncode(es(0), BpeVocab.bundled)),
    "bpe_token_count_merged" -> composed(cs =>
      TextFunctions.bpeTokenCount(cs(0), BpeVocab.bundled)),
    // byte-level (GPT-2 bytes_to_unicode alphabet; lossless on any input)
    "bpe_encode_bytes" -> (es => BpeEncode(es(0), BpeVocab.bundledBytes,
      byteLevel = true)),
    "bpe_token_count_bytes" -> composed(cs =>
      TextFunctions.bpeTokenCountBytes(cs(0))))

  /** Every table-valued function, installed by both [[register]] and
    * [[GraftExtensions]].
    */
  val tableFunctions: Map[String, Seq[Expression] => LogicalPlan] =
    graft.plans.EvaluateRuleTvf.all ++ graft.plans.GraftTvfs.all

  // IDEMPOTENT per session: callers sprinkle register() defensively (every
  // SQL-surface query path), and createOrReplaceTempFunction logs a
  // "replaced a previously registered function" warning on each repeat —
  // noise in every bench/verify tail. Weak keys: a dropped session must
  // not be pinned by this guard.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit =
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null) {
      all.foreach { case (name, builder) =>
        ColumnBridge.registerFunction(spark, name, builder)
      }
      tableFunctions.foreach { case (name, builder) =>
        ColumnBridge.registerTableFunction(spark, name, builder)
      }
    }
}

/** `SparkSessionExtensions` hook — enable with
  * `spark.sql.extensions=graft.functions.GraftExtensions` so every session
  * (including SQL-only ones) starts with the function surface installed.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.functions", name),
        builder))
    }
    GraftFunctions.tableFunctions.foreach { case (name, builder) =>
      ext.injectTableFunction((
        org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          "graft.plans", name),
        builder))
    }
  }
}
