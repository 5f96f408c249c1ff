package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.api.{RuleHttpServer, RuleService}
import graft.model.RuleJson
import graft.plans.EvaluateRuleTvf
import graft.rules.{RuleEvaluator, RuleSetExecutor}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The three workloads. Each one prepares its inputs, runs an untimed
  * pass whose outputs are checked and an untimed warm-up, then runs its
  * timed phase; set-up time runs from JVM start to the timed phase. A
  * traced run instead runs a `compared` phase in which every op runs once
  * per kind (untraced, traced; serve also over HTTP) back to back, so the
  * report can give the tracing overhead from one run.
  */
object Workloads {
  final case class Ctx(spark: SparkSession, inputs: String, seed: Long, seconds: Double,
                       trace: Boolean, cores: Int)

  trait Workload { def run(c: Ctx): Map[String, Any] }

  def apply(name: String): Workload = name match {
    case "serve_rules" => Serve
    case "batch_rules" => Batch
    case "pipeline_heavy" => Pipeline
  }

  /** One finished operation: its pool item, op id, timing and output, and
    * in a `compared` phase its kind. */
  final case class Op(item: Int, op: String, shape: String, startNs: Long, endNs: Long,
                      status: Int = 200, digest: Option[Canon.Digest] = None,
                      error: String = null, parts: Map[String, Double] = Map.empty,
                      kind: String = "timed")

  /** The order in which an op's kinds run in a `compared` phase: rotated
    * by `n`, so that each kind runs first, second, ... equally often and
    * the warm-up drift within a run, and any effect of running after
    * another kind, fall alike on each kind. */
  def rotated(kinds: Seq[String], n: Int): Seq[String] = {
    val k = n % kinds.size
    kinds.drop(k) ++ kinds.take(k)
  }

  private val mapper = new ObjectMapper()

  def lines(path: String): IndexedSeq[JsonNode] =
    Files.readAllLines(Paths.get(path)).asScala.filter(_.nonEmpty).map(l => mapper.readTree(l))
      .toIndexedSeq

  def ms(ns: Long): Double = ns / 1e6

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def message(e: Throwable): String = s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** `clients` threads, each calling `call(item, opId)` in turn over its
    * share of `order` and waiting for each reply before the next: a closed
    * loop. Each client stops issuing once `seconds` have passed or it has
    * made `calls` calls. */
  def closedLoop(clients: Int, seconds: Double, order: IndexedSeq[Int], tag: String = "",
                 calls: Int = Int.MaxValue)(call: (Int, String) => Seq[Op]): Seq[Op] = {
    val deadline =
      if (seconds.isInfinite) Long.MaxValue else System.nanoTime() + (seconds * 1e9).toLong
    val done = new ConcurrentLinkedQueue[Op]()
    val failure = new ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until clients).map { i =>
      new Thread(() => {
        try {
          var k = i * order.size / clients
          var n = 0
          while (n < calls && System.nanoTime() < deadline) {
            call(order(k % order.size), s"${tag}c$i-$n").foreach(done.add)
            k += 1; n += 1
          }
        } catch { case e: Throwable => failure.add(e) }
      }, s"perfbench-client-$i")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    if (!failure.isEmpty) throw failure.peek()
    done.asScala.toSeq.sortBy(_.startNs)
  }

  /** `f` over every item on `threads` threads. The check passes run this
    * way: they are untimed, and concurrent queries keep the cores busy while
    * each one's driver-side planning and code generation warm up. */
  def parallel[A](c: Ctx, items: Seq[A], threads: Int)(f: A => Op): Seq[Op] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = items.map(a => pool.submit(() => {
        SparkSession.setActiveSession(c.spark)
        f(a)
      }))
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** `step(n)` for n = 0, 1, ... while the steps so far plus half a step
    * of their mean length fit in `seconds`, and at least once: whole steps
    * over `seconds` to the nearest step. */
  def repeat(seconds: Double)(step: Int => Seq[Op]): Seq[Op] = {
    val t0 = System.nanoTime()
    val ops = Seq.newBuilder[Op]
    var n = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    do { ops ++= step(n); n += 1 } while (elapsed * (1 + 0.5 / n) < seconds)
    ops.result()
  }

  /** Runs `body` as a named phase and records its ops, wall time and host
    * stamps. A traced phase registers the listener and attaches its per-op
    * counts and the spans of the traced ops run within it. */
  def phase(c: Ctx, name: String, traced: Boolean)(body: => Seq[Op]): Map[String, Any] = {
    val sc = c.spark.sparkContext
    val listener = if (traced) Some(new OpListener) else None
    listener.foreach(sc.addSparkListener)
    val h0 = HostStamp.now()
    val t0 = System.nanoTime()
    val epoch0 = System.currentTimeMillis()
    val ops = body
    val wall = (System.nanoTime() - t0) / 1e9
    val host = HostStamp.between(h0, HostStamp.now())
    def epochMs(ns: Long): Long = epoch0 + (ns - t0) / 1000000L
    val traceRecord = listener.map { l =>
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(l)
      val accs = l.snapshot()
      val spans = Trace.drainSpans()
      val exec = spans.filter(_.name == "op").groupBy(_.op).map { case (op, entries) =>
        val a = accs.get(op)
        val intervals = a.map(_.intervals.toSeq).getOrElse(Nil)
        op -> Map(
          "jobs" -> a.map(_.jobs).getOrElse(0L),
          "stages" -> a.map(_.stages).getOrElse(0L),
          "tasks" -> a.map(_.tasks).getOrElse(0L),
          "task_cpu_ms" -> a.map(_.cpuNs / 1e6).getOrElse(0.0),
          "shuffle_write_bytes" -> a.map(_.shuffleWrite).getOrElse(0L),
          "spill_bytes" -> a.map(_.spill).getOrElse(0L),
          "records_read" -> a.map(_.recordsRead).getOrElse(0L),
          "peak_exec_mem_bytes" -> a.map(_.peakMem).getOrElse(0L),
          "driver_gap_ms" -> entries.map(s =>
            OpListener.gapMs(epochMs(s.startNs), epochMs(s.endNs), intervals)).sum)
      }
      Map(
        "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "op" -> s.op, "start_ms" -> ms(s.startNs - t0), "end_ms" -> ms(s.endNs - t0))),
        "exec" -> exec)
    }.getOrElse(Map.empty)
    Map(
      "name" -> name, "traced" -> traced, "start_epoch_ms" -> epoch0, "wall_s" -> wall,
      "host" -> host,
      "ops" -> ops.map(o => Map(
        "item" -> o.item, "op" -> o.op, "shape" -> o.shape,
        "start_ms" -> ms(o.startNs - t0), "lat_ms" -> ms(o.endNs - o.startNs),
        "status" -> o.status, "rows" -> o.digest.map(_.rows), "hash" -> o.digest.map(_.hash),
        "error" -> o.error, "parts" -> o.parts, "kind" -> o.kind))
    ) ++ traceRecord
  }

  // ---------------------------------------------------------------- serve

  /** `serve_rules`: a closed loop of clients POSTing `{Rule, Users}` to an
    * in-process [[RuleHttpServer]]; each reply is digested for the check.
    * The traced run replays the same mix in-process, making the calls
    * `RuleService.evaluateToJson` makes, because the server's threads do
    * not carry the op id. */
  object Serve extends Workload {
    final case class Req(id: Int, shape: String, rows: Int, rule: String, users: String) {
      def body: String = s"""{"Rule":$rule,"Users":$users}"""
    }
    val Clients = 4
    val WarmCalls = 12

    def load(c: Ctx): IndexedSeq[Req] =
      lines(Paths.get(c.inputs, "requests.jsonl").toString).map(n => Req(
        n.get("id").asInt, n.get("shape").asText, n.get("rows").asInt,
        n.get("rule").asText, n.get("users").asText))

    def run(c: Ctx): Map[String, Any] = {
      val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      val reqs = load(c)
      val server = new RuleHttpServer(c.spark)
      val uri = URI.create(s"http://127.0.0.1:${server.start()}/rules/evaluate")

      def post(r: Req, opId: String): Op = {
        val req = HttpRequest.newBuilder(uri)
          .header("Content-Type", "application/json")
          .POST(HttpRequest.BodyPublishers.ofString(r.body)).build()
        val t0 = System.nanoTime()
        try {
          val resp = http.send(req, HttpResponse.BodyHandlers.ofString())
          val t1 = System.nanoTime()
          reply(r, opId, t0, t1, resp.statusCode, resp.body)
        } catch {
          case e: Throwable => Op(r.id, opId, r.shape, t0, System.nanoTime(), 0, error = message(e))
        }
      }

      def reply(r: Req, opId: String, t0: Long, t1: Long, status: Int, body: String): Op =
        if (status == 200) Op(r.id, opId, r.shape, t0, t1, status, Some(Canon.ofJson(body)))
        else Op(r.id, opId, r.shape, t0, t1, status, error = body.take(300))

      def inProcess(r: Req, opId: String): Op = {
        val t0 = System.nanoTime()
        try {
          val out = RuleService.evaluateToJson(c.spark, r.users, r.rule)
          reply(r, opId, t0, System.nanoTime(), 200, out)
        } catch { case e: Throwable => reply(r, opId, t0, System.nanoTime(), 400, message(e)) }
      }

      // the calls RuleService.evaluateToJson makes, one span each
      def traced(r: Req, opId: String): Op = {
        import c.spark.implicits._
        val t0 = System.nanoTime()
        try {
          val out = Trace.op(c.spark.sparkContext, opId) {
            val rule = Trace.span("model.parse")(RuleJson.parseRule(r.rule))
            val rows = Trace.span("api.infer")(c.spark.read.json(Seq(r.users).toDS()))
            val df = Trace.span("rules.build")(RuleEvaluator(rows, rule))
            Trace.span("catalyst.plan")(df.queryExecution.executedPlan)
            Trace.span("api.respond")(df.toJSON.collect().mkString("[", ",", "]"))
          }
          reply(r, opId, t0, System.nanoTime(), 200, out)
        } catch { case e: Throwable => reply(r, opId, t0, System.nanoTime(), 400, message(e)) }
      }

      val calls = Map[String, (Req, String) => Op](
        "http" -> post, "untraced" -> inProcess, "traced" -> traced)

      try {
        val order = new Random(c.seed).shuffle(reqs.indices.toVector)
        // untimed but checked, like every reply: a fixed number of requests
        // per client warms up the server, whose latency falls over the
        // first seconds
        val check = phase(c, "check", traced = false) {
          closedLoop(Clients, Double.PositiveInfinity, order, "check-", WarmCalls) { (i, op) =>
            Seq(post(reqs(i), op))
          }
        }
        val measured =
          if (!c.trace) phase(c, "timed", traced = false) {
            closedLoop(Clients, c.seconds, order)((i, op) => Seq(post(reqs(i), op)))
          }
          else phase(c, "compared", traced = true) {
            closedLoop(Clients, c.seconds, order) { (i, op) =>
              rotated(Seq("http", "untraced", "traced"), i).map { k =>
                calls(k)(reqs(i), s"$op-$k").copy(kind = k)
              }
            }
          }
        Map("workload" -> "serve_rules", "clients" -> Clients, "phases" -> Seq(check, measured))
      } finally server.stop()
    }
  }

  // ---------------------------------------------------------------- batch

  /** `batch_rules`: one caller running rule queries in sequence over the
    * generated parquet tables, writing into the `noop` sink. Queries enter
    * through `RuleEvaluator`, `RuleSetExecutor.executeAll`/`tagAll` and the
    * `evaluate_rule(s)` SQL table-valued functions. */
  object Batch extends Workload {
    final case class Query(id: Int, route: String, shape: String, table: String,
                           rule: String, rules: String)

    def load(c: Ctx): IndexedSeq[Query] =
      lines(Paths.get(c.inputs, "queries.jsonl").toString).map(n => Query(
        n.get("id").asInt, n.get("route").asText, n.get("shape").asText, n.get("table").asText,
        Option(n.get("rule")).map(_.asText).orNull, Option(n.get("rules")).map(_.asText).orNull))

    def prepare(c: Ctx): IndexedSeq[Query] = {
      val dir = Paths.get(c.inputs, "tables")
      Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString).foreach { p =>
        val name = p.getFileName.toString.stripSuffix(".parquet")
        c.spark.read.parquet(p.toString).createOrReplaceTempView(name)
      }
      EvaluateRuleTvf.register(c.spark)
      load(c)
    }

    /** The query's DataFrame, built through its route. Traced, each layer
      * call gets a span and planning is forced through `queryExecution`. */
    def build(c: Ctx, q: Query): DataFrame = {
      val spark = c.spark
      val df = q.route match {
        case "eval" =>
          val rule = Trace.span("model.parse")(RuleJson.parseRule(q.rule))
          Trace.span("rules.build")(RuleEvaluator(spark.table(q.table), rule))
        case "executeAll" =>
          val rules = Trace.span("model.parse")(RuleJson.parseRules(q.rules))
          Trace.span("rules.build")(RuleSetExecutor.executeAll(spark.table(q.table), rules))
        case "tagAll" =>
          val rules = Trace.span("model.parse")(RuleJson.parseRules(q.rules))
          Trace.span("rules.build")(RuleSetExecutor.tagAll(spark.table(q.table), rules))
        case "tvf_rule" | "tvf_rules" =>
          val (fn, json) = if (q.route == "tvf_rule") ("evaluate_rule", q.rule)
                           else ("evaluate_rules", q.rules)
          Trace.span("plans.tvf_analyze") {
            val df = spark.sql(s"SELECT * FROM $fn('${q.table}', '$json')")
            df.queryExecution.analyzed
            df
          }
      }
      if (Trace.on) Trace.span("catalyst.plan")(df.queryExecution.executedPlan)
      df
    }

    def run(c: Ctx): Map[String, Any] = {
      val queries = prepare(c)
      def attempt(q: Query, opId: String)(f: => Option[Canon.Digest]): Op = {
        val t0 = System.nanoTime()
        try {
          val d = f
          Op(q.id, opId, q.shape, t0, System.nanoTime(), digest = d)
        } catch { case e: Throwable => Op(q.id, opId, q.shape, t0, System.nanoTime(), 0, error = message(e)) }
      }
      val check = phase(c, "check", traced = false) {
        parallel(c, queries, c.cores)(q => attempt(q, s"check-${q.id}")(Some(Canon.of(build(c, q)))))
      }
      // one execution of a query into noop; traced, as op `opId`
      def execute(q: Query, opId: String, kind: String): Op =
        attempt(q, opId)(Trace.op(c.spark.sparkContext, opId, kind == "traced") {
          val df = build(c, q)
          Trace.span(s"exec.run.${q.shape}")(noop(df))
          None
        }).copy(kind = kind)
      // one round over every query in a fresh seeded order; each query
      // runs once per kind, back to back
      def round(r: Int, kinds: Seq[String]): Seq[Op] =
        new Random(c.seed * 1000 + r).shuffle(queries).zipWithIndex.flatMap { case (q, p) =>
          rotated(kinds, p + r).map(k => execute(q, s"r$r-q${q.id}-$k", k))
        }
      // one untimed round first: code generation and JIT compilation keep
      // speeding rounds up for a few rounds after the check pass, and the
      // first sequential round is the slowest (about 40% over the next)
      val warm = phase(c, "warm", traced = false)(round(1, Seq("timed")))
      // whole rounds, so every run times the same mix of queries
      val measured =
        if (!c.trace) phase(c, "timed", traced = false)(repeat(c.seconds)(n => round(2 + n, Seq("timed"))))
        else phase(c, "compared", traced = true) {
          repeat(c.seconds)(n => round(2 + n, Seq("untraced", "traced")))
        }
      Map("workload" -> "batch_rules", "phases" -> Seq(check, warm, measured))
    }
  }

  // ------------------------------------------------------------- pipeline

  /** `pipeline_heavy`: repeated passes, in sequence, over pipeline rows of
    * `graft.SparkEntry.queries`, each written into `noop`. */
  object Pipeline extends Workload {
    val Layer = Map("q_clustering" -> "operators.graph", "q_change_feed" -> "streaming.change_feed")

    def run(c: Ctx): Map[String, Any] = {
      val dir = Paths.get(c.inputs, "tables").toString
      val rows = mapper.readTree(Paths.get(c.inputs, "rows.json").toFile).elements()
        .asScala.map(_.asText).toIndexedSeq
      val queries = graft.SparkEntry.queries
      val check = phase(c, "check", traced = false) {
        parallel(c, rows.zipWithIndex, rows.size) { case (row, i) =>
          val t0 = System.nanoTime()
          try {
            val d = Canon.of(queries(row)(c.spark, dir))
            Op(i, s"check-$row", row, t0, System.nanoTime(), digest = Some(d))
          } catch { case e: Throwable => Op(i, s"check-$row", row, t0, System.nanoTime(), 0, error = message(e)) }
        }
      }
      // one execution of `row` into noop, in ms; traced, within op `opId`
      def execute(row: String, opId: String, trace: Boolean): Double = {
        val t0 = System.nanoTime()
        Trace.op(c.spark.sparkContext, opId, trace) {
          Trace.span(Layer.getOrElse(row, row))(noop(queries(row)(c.spark, dir)))
        }
        ms(System.nanoTime() - t0)
      }
      // pass `n` once per kind; each row runs once per kind, back to back,
      // so a pass's time is the sum of its rows' times
      def passes(n: Int, kinds: Seq[String]): Seq[Op] = {
        val t0 = System.nanoTime()
        try {
          val times = rows.zipWithIndex.flatMap { case (row, j) =>
            rotated(kinds, n + j).map(k => (k, row, execute(row, s"p$n-$k", k == "traced")))
          }
          kinds.map { k =>
            val parts = times.collect { case (`k`, row, t) => row -> t }.toMap
            Op(-1, s"p$n-$k", "pass", t0, t0 + (parts.values.sum * 1e6).toLong, parts = parts,
              kind = k)
          }
        } catch { case e: Throwable =>
          kinds.map(k => Op(-1, s"p$n-$k", "pass", t0, System.nanoTime(), 0, error = message(e), kind = k))
        }
      }
      // one untimed pass as timed after the check pass: the first passes
      // are still speeding up
      val warm = phase(c, "warm", traced = false)(passes(0, Seq("timed")))
      val measured =
        if (!c.trace) phase(c, "timed", traced = false)(repeat(c.seconds)(n => passes(1 + n, Seq("timed"))))
        else phase(c, "compared", traced = true) {
          repeat(c.seconds)(n => passes(1 + n, Seq("untraced", "traced")))
        }
      Map("workload" -> "pipeline_heavy", "rows" -> rows, "phases" -> Seq(check, warm, measured))
    }
  }
}
