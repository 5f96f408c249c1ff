package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: runs one workload over generated inputs and
  * writes a run record (`result.json`) that `run.py` turns into metrics.
  *
  * {{{
  * perfbench.Main --workload serve_rules --inputs DIR --out DIR --seed N
  *                --seconds S --trace 0|1 --cores N
  * perfbench.Main --dump-oracles FILE q_row ...
  * }}}
  */
object Main {
  private val mapper = new ObjectMapper()

  /** Scala maps, seqs and options to plain Java values Jackson can write. */
  def toJava(v: Any): AnyRef = v match {
    case null | None => null
    case Some(x) => toJava(x)
    case m: Map[_, _] =>
      val out = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => out.put(k.toString, toJava(x)) }
      out
    case s: Iterable[_] => s.map(toJava).toSeq.asJava
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }

  def writeJson(path: String, v: Any): Unit =
    mapper.writeValue(Paths.get(path).toFile, toJava(v))

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--dump-oracles")) {
      val oracles = graft.SparkEntry.oracleSql
      writeJson(argv(1), argv.drop(2).map(q => q -> oracles(q)).toMap)
      return
    }
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val cores = args("cores").toInt
    val out = args("out")
    val tmp = Paths.get(out, "tmp").toString
    Files.createDirectories(Paths.get(tmp))

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", tmp)
      .config("spark.sql.warehouse.dir", Paths.get(tmp, "warehouse").toString)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val ctx = Workloads.Ctx(spark, args("inputs"), args("seed").toLong,
      args("seconds").toDouble, args("trace") == "1", cores)
    val record = try Workloads(workload).run(ctx) finally spark.stop()
    writeJson(Paths.get(out, "result.json").toString,
      record ++ Map("jvm_start_epoch_ms" -> jvmStartMs, "session_s" -> sessionS,
        "peak_rss_mb" -> HostStamp.peakRssMb()))
  }
}
