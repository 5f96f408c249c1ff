package perfbench

import org.apache.spark.sql.SparkSession

/** Checks the listener's job attribution: an op that runs two jobs is
  * charged two jobs, another op one, and a job outside any op none.
  * Exits non-zero on a mismatch. Run by `tests/test_perfbench.py`. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", args(0))
      .config("spark.sql.warehouse.dir", args(0) + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val listener = new OpListener
    sc.addSparkListener(listener)
    Trace.op(sc, "two") {
      sc.parallelize(1 to 1000, 2).count()
      sc.parallelize(1 to 10, 3).collect()
    }
    Trace.op(sc, "one")(sc.parallelize(1 to 10, 2).collect())
    sc.parallelize(1 to 10, 2).collect()
    org.apache.spark.perfbench.Bus.drain(sc)
    val accs = listener.snapshot()
    spark.stop()
    val got = accs.map { case (op, a) => op -> (a.jobs, a.tasks) }
    val ok = accs.keySet == Set("two", "one") &&
      accs("two").jobs == 2 && accs("one").jobs == 1 &&
      accs("two").tasks >= 5 && accs("one").tasks >= 2 &&
      OpListener.gapMs(0, 100, Seq((10L, 30L), (20L, 50L), (90L, 200L))) == 50
    println(s"selftest ${if (ok) "ok" else "FAILED"}: (jobs, tasks) per op = $got")
    if (!ok) sys.exit(1)
  }
}
