package graft.functions

import graft.SparkSpec

class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("native expressions register as SQL functions") {
    GraftFunctions.register(spark)
    Seq(("a b c d", Seq(1f, 0f), Seq(1f, 0f))).toDF("text", "v1", "v2")
      .createOrReplaceTempView("gf_t")
    val row = spark.sql(
      """SELECT cosine_similarity(v1, v2) AS cos,
                simhash_text(text) AS sh,
                size(word_shingles(text, 2)) AS n_sh,
                size(minhash_signature(word_shingles(text, 2), 16)) AS n_mh,
                size(rolling_fingerprint(text, 3, 2)) AS n_fp
         FROM gf_t""").head()
    assert(math.abs(row.getDouble(0) - 1.0) < 1e-12)
    assert(row.getLong(1) == SimHash64.computeText(
      org.apache.spark.unsafe.types.UTF8String.fromString("a b c d")))
    assert(row.getInt(2) == 3)
    assert(row.getInt(3) == 16)
    assert(row.getInt(4) > 0)
  }

  test("composed text operators register as SQL functions too") {
    GraftFunctions.register(spark)
    Seq("the cat and the hat wrote to a.b@c.de from https://x.io")
      .toDF("text").createOrReplaceTempView("gf_text")
    val row = spark.sql(
      """SELECT token_count(text) AS n,
                lang_id(text) AS lang,
                quality_score(text) AS q,
                scrub_pii(text) AS clean,
                pii_counts(text).n_email AS n_email
         FROM gf_text""").head()
    assert(row.getLong(0) == 10L)
    assert(row.getString(1) == "en")
    assert(row.getDouble(2) > 0 && row.getDouble(2) <= 1.0)
    assert(row.getString(3) == "the cat and the hat wrote to <EMAIL> from <URL>")
    assert(row.getInt(4) == 1)
    // crawl-ingest surface
    val crawl = spark.sql(
      """SELECT strip_html('<p>a</p><script>x</script><p>b &amp; c</p>') AS t,
                url_host('https://u@Host.Org:81/p?q') AS h""").head()
    assert(crawl.getString(0) == "a b & c")
    assert(crawl.getString(1) == "host.org")
  }

  test("byte-level BPE functions register and round-trip through SQL") {
    GraftFunctions.register(spark)
    Seq("the cat said naïve 🎉").toDF("text").createOrReplaceTempView("gf_bytes")
    val row = spark.sql(
      """SELECT bpe_encode_bytes(text) AS toks,
                bpe_token_count_bytes(text) AS n
         FROM gf_bytes""").head()
    val toks = row.getSeq[String](0)
    assert(toks.nonEmpty && row.getLong(1) == toks.length.toLong)
    assert(toks.exists(_.startsWith("Ġ")) && !toks.exists(_.contains(" ")))
    assert(ByteLevel.decode(toks.mkString("")) == "the cat said naïve 🎉")
  }

  test("GraftExtensions injects every table-valued function register installs") {
    val injected = org.apache.spark.sql.graft.Extensions
      .tableFunctionNames(new GraftExtensions)
    val expected = (graft.plans.EvaluateRuleTvf.all ++ graft.plans.GraftTvfs.all).keySet
    assert(expected.size == 14)
    assert(expected.diff(injected).isEmpty,
      s"missing from GraftExtensions: ${expected.diff(injected)}")
  }

  test("rolling fingerprints overlap for shared substrings, disjoint otherwise") {
    val df = Seq(
      ("x", "the quick brown fox jumps over the lazy dog in the morning light"),
      ("y", "yesterday the quick brown fox jumps over the lazy dog happily"),
      ("z", "1234567890 zzzz qqqq wwww eeee rrrr tttt yyyy uuuu iiii oooo")).toDF("id", "text")
    val fps = df.select($"id", RollingFingerprint.column($"text", 9, 4))
      .as[(String, Seq[Long])].collect().toMap
    val shared = fps("x").toSet & fps("y").toSet
    val farOff = fps("x").toSet & fps("z").toSet
    assert(shared.nonEmpty, "near-copies must share fingerprints")
    assert(farOff.isEmpty, "unrelated docs should not collide")
  }
}
