package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import graft.SparkSpec
import graft.model.RuleJson
import graft.rules.{RuleEvaluator, RuleSetExecutor}
import org.apache.spark.graft.ListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.graftbridge.LocalJson

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import scala.util.{Random, Try}

class RuleServiceSpec extends SparkSpec {
  import spark.implicits._

  private val users =
    """[{"LoginName":"alice","RegNo":"9","CompanyCode":"C1","IsActive":true},
       {"LoginName":"bob","RegNo":"10","CompanyCode":"C2","IsActive":true},
       {"LoginName":"carol","RegNo":"11","CompanyCode":"C1","IsActive":false}]"""

  test("data-in-request evaluation with inferred schema (reference controller parity)") {
    val got = RuleService.evaluate(spark, users,
      """{"Name":"active-c1","Conditions":{"Conditions":[
           {"Property":"IsActive","Operator":"Equal","Value":true},
           {"Property":"companycode","Operator":"Equal","Value":"C1"}]}}""")
      .select("LoginName").as[String].collect().toSet
    assert(got == Set("alice"))
  }

  test("numeric lift works on inferred string columns") {
    val got = RuleService.evaluate(spark, users,
      """{"Conditions":{"Conditions":[
           {"Property":"RegNo","Operator":"GreaterThan","Value":9}]}}""")
      .select("LoginName").as[String].collect().toSet
    assert(got == Set("bob", "carol"))
  }

  test("multi-rule union distinct and JSON round-trip") {
    val json = RuleService.evaluateToJson(spark, users,
      """{"Conditions":{"Conditions":[
           {"Property":"LoginName","Operator":"StartsWith","Value":"a"}]}}""")
    assert(json.contains("\"alice\"") && !json.contains("\"bob\""))

    val all = RuleService.evaluateAll(spark, users,
      """[{"Conditions":{"Conditions":[
            {"Property":"LoginName","Operator":"Equal","Value":"alice"}]}},
          {"Conditions":{"Conditions":[
            {"Property":"CompanyCode","Operator":"Equal","Value":"C1"}]}}]""")
      .select("LoginName").as[String].collect().toSet
    assert(all == Set("alice", "carol"))
  }

  test("validation error surfaces as an exception (reference maps to HTTP 400)") {
    intercept[graft.model.RuleValidator.RuleValidationException] {
      RuleService.evaluate(spark, users,
        """{"Conditions":{"Conditions":[
             {"Property":"Nope","Operator":"Equal","Value":1}]}}""")
    }
  }

  // -- rows parsed on the driver are spark.read.json's rows, replies are
  //    toJSON's bytes --

  private def sparkRead(json: String): DataFrame = spark.read.json(Seq(json).toDS())

  /** The reply as the spark.read.json + toJSON path computes it. */
  private def sparkReply(rowsJson: String, ruleJson: String): String =
    RuleEvaluator(sparkRead(rowsJson), RuleJson.parseRule(ruleJson))
      .toJSON.collect().mkString("[", ",", "]")

  private val edgeCases = Seq(
    "nulls and empty strings" -> """[{"a":null,"b":""},{"a":"x","b":null},{"a":"","b":"y"}]""",
    "number-like strings" ->
      """[{"RegNo":"007","n":"1e3"},{"RegNo":"12.50","n":" 4"},{"RegNo":"-0","n":"NaN"}]""",
    "long/double mix" -> """[{"v":1},{"v":2.5},{"v":-3},{"v":1e300}]""",
    "long/decimal mix" -> """[{"v":1},{"v":12345678901234567890}]""",
    "string/number mix" -> """[{"v":"a"},{"v":1},{"v":true},{"v":2.5}]""",
    "all-null column" -> """[{"k":1,"n":null},{"k":2,"n":null}]""",
    "field missing from some rows" -> """[{"a":1},{"b":"x"},{}]""",
    "nested objects and arrays" ->
      """[{"o":{"x":1,"y":[1,2,null]},"arr":[{"k":"v"},{"k":null,"j":3}],"e":[],"eo":{}},
          {"o":null,"arr":null,"m":[[1],[2.5]]}]""",
    "top-level object" -> """{"a":1,"b":"x","c":[true]}""",
    "empty array" -> "[]",
    "array of nulls" -> "[null,null]",
    "malformed JSON" -> """[{"a":1},{"a":""",
    "scalars among objects" -> """[{"a":1},2,"s"]""",
    "top-level scalar" -> "42",
    "empty document" -> "",
    "unicode and escapes" -> "[{\"s\":\"\\u00e9\\n\\\"q\\\"\\t\",\"k\":\"\\ud83d\\ude00\",\"z\":\"日本\"}]",
    "timestamp- and date-like strings" -> """[{"t":"2024-01-01T00:00:00","d":"2024-01-01"}]""",
    "case-clashing keys" -> """[{"A":1,"a":"x"}]""",
    // a string field under the corrupt-record name stays in the schema but
    // reads null on every row that parses
    "corrupt-record column in the data" -> """[{"_corrupt_record":"x","a":1},{"a":2},{"a":3}]""",
  )

  test("driver-local rows: spark.read.json's schema and rows over edge-case payloads") {
    edgeCases.foreach { case (what, json) =>
      val want = sparkRead(json)
      val got = LocalJson.read(spark, json)
      assert(got.schema == want.schema, what)
      assert(got.collect().toSeq == want.collect().toSeq, what)
      // the rule-free rule returns every row: the whole payload's reply bytes
      val all = """{"Name":"all"}"""
      assert(RuleService.evaluateToJson(spark, json, all) == sparkReply(json, all), what)
    }
  }

  test("driver-local rows: a payload field named like the corrupt-record column fails alike") {
    val json = """[{"_corrupt_record":5}]"""
    val want = Try(sparkRead(json)).failed.get
    val got = Try(LocalJson.read(spark, json)).failed.get
    assert(got.getClass == want.getClass && got.getMessage == want.getMessage)
  }

  // a seeded request corpus in the reference's User shape: number-like
  // strings with padding, blanks and junk, nulls in every column, optional
  // fields, and rules over every operator family

  private val names = Vector("alice", "bob", "carol", "dave", "erin", "frank")
  private val titles = Vector("Manager", "Engineer", "Analyst", "")

  private def str(s: String): String = if (s == null) "null" else "\"" + s + "\""

  private def usersJson(rng: Random, m: Int): String = {
    val regs = Iterator.continually(1 + rng.nextInt(999999)).distinct.take(m).toVector
    regs.zipWithIndex.map { case (reg, j) =>
      val u = rng.nextDouble()
      val regNo =
        if (u > 0.96) null else if (u > 0.93) "" else if (u > 0.89) s"X$reg"
        else if (u < 0.3) f"$reg%07d" else reg.toString
      val nid = rng.nextDouble() match {
        case v if v < 0.04 => null
        case v if v < 0.07 => ""
        case _ => (10000000000L + rng.nextLong(89999999999L)).toString
      }
      val login = if (rng.nextDouble() < 0.03) null else names(rng.nextInt(6)) + rng.nextInt(10)
      // Title is missing from some rows and null in others
      val title =
        if (rng.nextDouble() < 0.1) ""
        else ",\"Title\":" + str(if (rng.nextDouble() < 0.05) null else titles(rng.nextInt(4)))
      val cc = if (rng.nextDouble() < 0.04) null else s"C${1 + rng.nextInt(8)}"
      val active = rng.nextDouble() match {
        case a if a < 0.6 => "true"
        case a if a < 0.95 => "false"
        case _ => "null"
      }
      s"""{"Id":"u$j","NationalIdNumber":${str(nid)},"LoginName":${str(login)},""" +
        s""""RegNo":${str(regNo)}$title,"CompanyCode":${str(cc)},"IsActive":$active}"""
    }.mkString("[", ",", "]")
  }

  private def leaf(rng: Random): String = {
    def c(prop: String, op: String, value: String = null) = {
      val v = if (value == null) "" else ",\"Value\":" + value
      s"""{"Property":"$prop","Operator":"$op"$v}"""
    }
    val company = str(s"C${1 + rng.nextInt(8)}")
    val number = (rng.nextInt(1000000) - 1000).toString
    Vector(
      () => c("CompanyCode", "Equal", company),
      () => c("CompanyCode", "NotEqual", company),
      () => c("CompanyCode", "In", s"""[$company,"C3"]"""),
      () => c("Title", "NotIn", """["Manager",""]"""),
      () => c("RegNo", "GreaterThan", number),
      () => c("RegNo", "LessThanOrEqual", number),
      () => c("NationalIdNumber", "GreaterThanOrEqual", "50000000000"),
      () => c("LoginName", "StartsWith", str(names(rng.nextInt(6)).take(2))),
      () => c("LoginName", "Contains", str(rng.nextInt(10).toString)),
      () => c("LoginName", "EndsWith", str(rng.nextInt(10).toString)),
      () => c("Title", "NullOrEmpty"),
      () => c("RegNo", "NotNullOrEmpty"),
      () => c("NationalIdNumber", "Null"),
      () => c("IsActive", "Equal", "true"),
      () => c("Title", "ContainIfCountIsGreater", """{"Target":"a","Threshold":0}"""),
      () => c("LoginName", "MustContainIfCountIsGreater",
        """{"Target":"[a-e]","Required":"a","Threshold":1}"""),
      () => c("CompanyCode", "If", s"""{"Check":${c("CompanyCode", "Equal", company)},""" +
        s""""Then":${c("IsActive", "Equal", "true")}}"""),
    )(rng.nextInt(17))()
  }

  private def group(rng: Random, nested: Boolean = true): String = {
    val leaves = Seq.fill(1 + rng.nextInt(3))(leaf(rng))
    val groups = if (nested && rng.nextDouble() < 0.3) Seq(group(rng, nested = false)) else Nil
    val or = if (rng.nextBoolean()) ""","LogicalOperator":"OR"""" else ""
    val negate = if (rng.nextDouble() < 0.2) ""","Negate":true""" else ""
    s"""{"Conditions":[${leaves.mkString(",")}],"Groups":[${groups.mkString(",")}]$or$negate}"""
  }

  private def aggregateRule(rng: Random, fn: String): String = {
    val conditions = if (rng.nextBoolean()) s""""Conditions":${group(rng)},""" else ""
    val groupBy = Vector("[]", """["CompanyCode"]""", """["Title"]""",
      """["CompanyCode","IsActive"]""")(rng.nextInt(4))
    val prop = if (fn == "Count") "Id" else Vector("RegNo", "RegNo", "NationalIdNumber")(rng.nextInt(3))
    s"""{"Name":"agg",$conditions"GroupBy":$groupBy,""" +
      s""""Aggregation":{"AggregateProperty":"$prop","AggregateFunction":"$fn"}}"""
  }

  private val invalidRules = Vector(
    """{"Conditions":{"Conditions":[{"Property":"Salary","Operator":"GreaterThan","Value":10}]}}""",
    """{"GroupBy":["CompanyCode"]}""",
    """{"GroupBy":["CompanyCode"],"Aggregation":{"AggregateProperty":"RegNo","AggregateFunction":"Avg"}}""",
    """{"GroupBy":["Title"],"Aggregation":{"AggregateProperty":"Bonus","AggregateFunction":"Max"}}""")

  /** (shape, rows, rule) requests; payload sizes log-uniform over 1..300. */
  private def requests(seed: Int, n: Int): Seq[(String, String, String)] = {
    val rng = new Random(seed)
    (0 until n).map { i =>
      val rows = usersJson(rng, math.exp(rng.nextDouble() * math.log(300)).toInt.max(1))
      i % 8 match {
        case 0 => ("invalid", rows, invalidRules(rng.nextInt(invalidRules.size)))
        case 1 => ("aggregate", rows, aggregateRule(rng, Vector("Count", "Min", "Max")(rng.nextInt(3))))
        case _ => ("filter", rows, s"""{"Name":"r$i","Conditions":${group(rng)}}""")
      }
    }
  }

  private val mapper = new ObjectMapper()
  private def rowMultiset(jsonArray: String) =
    mapper.readTree(jsonArray).elements().asScala.toSeq.groupBy(identity).view.mapValues(_.size).toMap

  test("replies equal the spark.read.json + toJSON path: filters byte for byte, aggregates as row multisets") {
    for ((shape, rows, rule) <- requests(seed = 17, n = 48)) {
      val want = Try(sparkReply(rows, rule))
      val got = Try(RuleService.evaluateToJson(spark, rows, rule))
      shape match {
        case "invalid" =>
          assert(got.failed.get.getMessage == want.failed.get.getMessage, rule)
        case "aggregate" =>
          assert(rowMultiset(got.get) == rowMultiset(want.get), rule)
        case "filter" =>
          assert(got.get == want.get, rule)
      }
    }
  }

  test("evaluateAll equals the spark.read.json path as a row multiset") {
    val rng = new Random(5)
    val rows = usersJson(rng, 120)
    val rules = (Seq.fill(3)(s"""{"Conditions":${group(rng)}}""") :+
      aggregateRule(rng, "Min")).mkString("[", ",", "]")
    def multiset(df: DataFrame): Map[Row, Int] =
      df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap
    assert(multiset(RuleService.evaluateAll(spark, rows, rules)) ==
      multiset(RuleSetExecutor.executeAll(sparkRead(rows), RuleJson.parseRules(rules))))
  }

  /** Spark jobs started by `body` on this thread. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val key = "graft.spec.request"
    val tag = java.util.UUID.randomUUID().toString
    val jobs = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(key) == tag) jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(key, tag)
    try body
    finally {
      sc.setLocalProperty(key, null)
      ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  test("no Spark job for filter or invalid rules; at most 2 for group-by rules") {
    for ((shape, rows, rule) <- requests(seed = 29, n = 40)) {
      val jobs = jobsDuring(Try(RuleService.evaluateToJson(spark, rows, rule)))
      if (shape == "aggregate") assert(jobs <= 2, rule)
      else assert(jobs == 0, s"$shape: $rule")
    }
  }
}
