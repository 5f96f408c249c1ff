package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** TWO-decade headroom input (VERDICT r10 #8): derives an sf10 corpus
  * (100× sf0.1) for the three families with the steepest 10× ratios —
  * events as-of, pair-family dedup, PageRank — so `graft.Bench` with
  * `SPARK_GRAFT_SF_DIR` pointed at it can check whether each family's
  * sf1→sf10 ratio holds the envelope its sf0.1→sf1 ratio predicted.
  * Only the tables those families read are derived (documents,
  * embeddings, events, orders, lineitem); the rule-engine dims stay at
  * their fixed universe by design (see [[ScaleTen.derive]]).
  *
  * The second replication level reuses ScaleTen's shape-neutral scheme
  * with a DISJOINT namespace so level-1 and level-2 replicas can't alias:
  *  - documents: EVERY token gains a `y$k` suffix (level 1 tagged every
  *    3rd token with `x$k`). Level 1's sparse tagging is shingle-neutral
  *    (cross-replica Jaccard ~(2/3)³ ≈ 0.3, under the 0.5 threshold) but
  *    NOT substring-neutral: ~30% of 12-char winnowing windows avoid
  *    every tagged token and collide across ALL replicas, so at 100
  *    blocks those fingerprints sit at df ≈ 100 — just under the
  *    posting cap — and the winnow pair join measures ~C(100,2)-sized
  *    replica cliques instead of a 100× corpus (first probe run:
  *    q_fingerprint_winnow 14.8× for the last decade). Tagging every
  *    token drives BOTH cross-replica shingle Jaccard and cross-replica
  *    substring sharing to zero, so every pair family sees 100 clean
  *    copies of the original pair structure; within-replica structure
  *    (including level 1's) is untouched.
  *  - embeddings: replica k ≥ 1 applies a deterministic per-dimension
  *    SIGN FLIP (flip dim d iff murmur3(d, k) is odd) — an orthogonal
  *    transform, so every within-replica inner product is preserved
  *    exactly, while cross-replica dots of even the SAME source vector
  *    sum ~half-negated squares ≈ 0. Rotation (level 1's trick) cannot
  *    serve here: 64-dim vectors admit only 64 distinct rotations, so
  *    100 total replicas would pigeonhole onto aligned pairs and leak
  *    exact-dup pairs across blocks.
  *  - key shifts sit one decade above level 1's so ranges can't collide:
  *    doc_id/vec_id/custkey/suppkey +k·10⁸ (level 1: k·10⁷), orderkey
  *    +k·10⁹ (level 1: k·10⁸), user_id +k·10⁶ (level 1: k·10⁵).
  *
  * Run: sbt 'runMain graft.tools.ScaleHundred [sf01] [sf1Dir] [sf10Dir]'
  * (or direct java -cp with the Spark jars; 8g heap matches the driver
  * bench protocol).
  */
object ScaleHundred {

  def derive(spark: SparkSession, sf1: String, out: String): Unit = {
    def missing(table: String) =
      !new java.io.File(s"$out/$table.parquet").exists()

    if (missing("documents")) {
      val docs = spark.read.parquet(s"$sf1/documents.parquet")
      (0 until 10).map { k =>
        val tagged =
          if (k == 0) col("text")
          else array_join(
            transform(split(col("text"), " "), w => concat(w, lit(s"y$k"))),
            " ")
        docs.select(
          (col("doc_id") + lit(k * 100000000L)).as("doc_id"),
          tagged.as("text"),
          col("lang"), col("source"),
          length(tagged).cast("long").as("n_chars"))
      }.reduce(_ unionByName _)
        .repartition(64).write.mode("overwrite").parquet(s"$out/documents.parquet")
      println(s"derived 100x documents at $out")
    }

    if (missing("embeddings")) {
      val emb = spark.read.parquet(s"$sf1/embeddings.parquet")
      (0 until 10).map { k =>
        // orthogonal per-replica sign flip (see scaladoc): murmur3 of
        // (dim index, replica) picks the flipped dims — deterministic
        // across runs, identity for k = 0
        val flipped =
          if (k == 0) col("embedding")
          else transform(col("embedding"),
            (x, i) => when(pmod(hash(i, lit(k)), lit(2)) === 1, -x).otherwise(x))
        emb.select(
          (col("vec_id") + lit(k * 100000000L)).as("vec_id"),
          flipped.as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .repartition(64).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      println(s"derived 100x embeddings at $out")
    }

    if (missing("events")) {
      val ev = graft.Queries.events(spark, sf1)
      (0 until 10).map { k =>
        ev.select(
          (col("event_id") + lit(k * 100000000L)).as("event_id"),
          col("ts"),
          (col("user_id") + lit(k * 1000000L)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }.reduce(_ unionByName _)
        .repartition(64).write.mode("overwrite").parquet(s"$out/events.parquet")
      println(s"derived 100x events at $out")
    }

    if (missing("orders")) {
      val ord = spark.read.parquet(s"$sf1/orders.parquet")
      (0 until 10).map { k =>
        ord.withColumn("o_orderkey", col("o_orderkey") + lit(k * 1000000000L))
          .withColumn("o_custkey", col("o_custkey") + lit(k * 100000000L))
      }.reduce(_ unionByName _)
        .repartition(64).write.mode("overwrite").parquet(s"$out/orders.parquet")
      println(s"derived 100x orders at $out")
    }

    // own guard, NOT folded into orders': a run that wrote orders.parquet
    // and died before lineitem.parquet must still derive lineitem on rerun
    if (missing("lineitem")) {
      val li = spark.read.parquet(s"$sf1/lineitem.parquet")
      (0 until 10).map { k =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(k * 1000000000L))
          .withColumn("l_suppkey", col("l_suppkey") + lit(k * 100000000L))
          // part keys shift (see ScaleTen.derive): keeps the parts graph
          // 10 disjoint copies instead of densifying one part universe
          .withColumn("l_partkey", col("l_partkey") + lit(k * 100000000L))
      }.reduce(_ unionByName _)
        .repartition(64).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      println(s"derived 100x lineitem at $out")
    }
  }

  def main(args: Array[String]): Unit = {
    val sf01 = args.headOption.getOrElse("/root/testdata/sf0.1")
    val sf1 = args.lift(1).getOrElse("/tmp/graft_sf1")
    val sf10 = args.lift(2).getOrElse("/tmp/graft_sf10")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    ScaleTen.derive(spark, sf01, sf1)
    derive(spark, sf1, sf10)
    spark.stop()
  }
}
