package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-20 pins for the loop write machinery the optimization changed:
  * concurrent sink writes ([[DocumentStreams.writeBatchPartitionsPar]]),
  * the REBALANCE'd batch-partition layout, and the per-path history
  * schema memo — the contract is that none of them changes WHAT lands,
  * only how many files/jobs it costs.
  */
class LoopWriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_loopwrite").toString

  test("writeBatchPartitionsPar lands the same partitions and rows as " +
      "sequential writes, and a retry rewrites its own partition") {
    val a = Seq((1L, "x"), (2L, "y")).toDF("id", "v")
    val b = Seq((10L, 7L), (11L, 8L)).toDF("id", "n")
    val base = tmp()
    val pA = s"$base/a"; val pB = s"$base/b"
    DocumentStreams.writeBatchPartitionsPar(Seq(a -> pA, b -> pB), 0L)
    DocumentStreams.writeBatchPartitionsPar(Seq(
      a.withColumn("v", concat(col("v"), lit("2"))) -> pA,
      b.withColumn("n", col("n") + 100L) -> pB), 1L)
    // retry of batch 1: same content, must rewrite, not append
    DocumentStreams.writeBatchPartitionsPar(Seq(
      a.withColumn("v", concat(col("v"), lit("2"))) -> pA,
      b.withColumn("n", col("n") + 100L) -> pB), 1L)
    val gotA = spark.read.parquet(pA)
      .select(col("id"), col("v"), col("__batch_id").cast("long"))
      .as[(Long, String, Long)].collect().sorted
    assert(gotA.toSeq === Seq((1L, "x", 0L), (1L, "x2", 1L),
      (2L, "y", 0L), (2L, "y2", 1L)))
    val gotB = spark.read.parquet(pB)
      .select(col("id"), col("n"), col("__batch_id").cast("long"))
      .as[(Long, Long, Long)].collect().sorted
    assert(gotB.toSeq === Seq((10L, 7L, 0L), (10L, 107L, 1L),
      (11L, 8L, 0L), (11L, 108L, 1L)))
  }

  test("writeBatchPartitionsPar propagates a failing sink after awaiting " +
      "all siblings") {
    val ok = Seq((1L, 2L)).toDF("id", "n")
    // a frame whose evaluation throws (division in a filter forced at
    // write time)
    val bad = Seq((1L, 0L)).toDF("id", "z")
      .withColumn("boom", expr("raise_error('loopwrite-test-boom')"))
    val base = tmp()
    val e = intercept[Exception] {
      DocumentStreams.writeBatchPartitionsPar(Seq(
        ok -> s"$base/ok", bad -> s"$base/bad"), 0L)
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(_.contains("loopwrite-test-boom")))
    // the healthy sibling still committed its partition
    assert(spark.read.parquet(s"$base/ok").count() === 1L)
  }

  test("rebalanced batch writes produce one file per batch partition at " +
      "toy scale (the §6 file-sizing contract)") {
    val rows = spark.range(0, 1000).toDF("id")
      .repartition(4) // the pre-round shape: one tiny file per task
    val p = tmp() + "/idx"
    DocumentStreams.writeBatchPartition(rows, 0L, p)
    val files = new java.io.File(s"$p/__batch_id=0")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files === 1, s"expected 1 rebalanced file, found $files")
    assert(spark.read.parquet(p).count() === 1000L)
  }

  test("readHistory schema memo serves identical rows and schema on the " +
      "second read, including after new partitions land") {
    val p = tmp() + "/hist"
    DocumentStreams.writeBatchPartition(
      Seq((1L, "a")).toDF("id", "t"), 0L, p)
    val first = DocumentStreams.readHistory(spark, p, 99L)
    val firstSchema = first.schema
    DocumentStreams.writeBatchPartition(
      Seq((2L, "b")).toDF("id", "t"), 1L, p)
    val second = DocumentStreams.readHistory(spark, p, 99L)
    assert(second.schema === firstSchema)
    assert(second.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // the in-flight batch's own partition stays excluded
    val excl = DocumentStreams.readHistory(spark, p, 1L)
    assert(excl.select("id").as[Long].collect().toSeq === Seq(1L))
  }

  test("readHistory sees the new columns after a path is re-seeded in the same JVM") {
    val p = tmp() + "/reseed"
    DocumentStreams.seedIndex(Seq((1L, "s")).toDF("id", "sig"), p)
    assert(DocumentStreams.readHistory(spark, p, 0L).columns.toSet ===
      Set("id", "sig", "__batch_id"))
    DocumentStreams.seedIndex(Seq((2L, 3, 4L)).toDF("id", "band", "bh"), p)
    val h = DocumentStreams.readHistory(spark, p, 0L)
    assert(h.columns.toSet === Set("id", "band", "bh", "__batch_id"))
    assert(h.select("id", "band", "bh").as[(Long, Int, Long)].collect().toSeq ===
      Seq((2L, 3, 4L)))
  }

  test("a legacy flat seed's schema is not memoized: the partitioned " +
      "layout that replaces it is read with its own columns") {
    val p = tmp() + "/flat"
    Seq((1L, "a")).toDF("id", "t").write.parquet(p)
    assert(DocumentStreams.readHistory(spark, p, 0L).count() === 1L)
    // the path becomes loop-owned, with another column set; batch 0 is in flight
    Seq((1L, 5, -1L), (2L, 6, 0L)).toDF("id", "band", "__batch_id")
      .write.mode("overwrite").partitionBy("__batch_id").parquet(p)
    assert(DocumentStreams.readHistory(spark, p, 0L).select("id", "band")
      .as[(Long, Int)].collect().toSeq === Seq((1L, 5)))
  }
}
