package graft.api

import graft.SparkSpec

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import scala.jdk.CollectionConverters._

class RuleHttpServerSpec extends SparkSpec {

  private def post(port: Int, body: String): HttpResponse[String] =
    HttpClient.newHttpClient().send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/rules/evaluate"))
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private val users =
    """[{"NationalIdNumber":"100","LoginName":"alice","RegNo":"9","Id":"u1","Title":"Manager","CompanyCode":"C1","IsActive":true},
        {"NationalIdNumber":"250","LoginName":"bob","RegNo":"10","Id":"u2","Title":"Engineer","CompanyCode":"C2","IsActive":true},
        {"NationalIdNumber":"999","LoginName":"carol","RegNo":"11","Id":"u3","Title":null,"CompanyCode":"C1","IsActive":false}]"""

  test("POST /rules/evaluate: 200 with matching rows (reference controller contract)") {
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    try {
      val resp = post(port,
        s"""{"Rule":{"Conditions":{"Conditions":[
              {"Property":"CompanyCode","Operator":"Equal","Value":"C1"}]}},
            "Users":$users}""")
      assert(resp.statusCode() == 200)
      assert(resp.body().contains("alice") && resp.body().contains("carol"))
      assert(!resp.body().contains("bob"))
      // case-insensitive field binding, like ASP.NET
      val resp2 = post(port,
        s"""{"rule":{"Conditions":{"Conditions":[
              {"Property":"loginname","Operator":"StartsWith","Value":"b"}]}},
            "USERS":$users}""")
      assert(resp2.statusCode() == 200 && resp2.body().contains("bob"))
    } finally srv.stop()
  }

  test("concurrent requests: two rules in flight share one SparkSession safely") {
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    try {
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // 8 requests / 2 distinct rules, all in flight at once — each answer
      // must match ITS OWN rule (no cross-request plan or result bleed
      // through the shared SparkSession) and nothing may 500
      val futures = (1 to 8).map { i =>
        Future {
          if (i % 2 == 0)
            ("even", post(port,
              s"""{"Rule":{"Conditions":{"Conditions":[
                    {"Property":"CompanyCode","Operator":"Equal","Value":"C1"}]}},
                  "Users":$users}"""))
          else
            ("odd", post(port,
              s"""{"Rule":{"Conditions":{"Conditions":[
                    {"Property":"LoginName","Operator":"StartsWith","Value":"b"}]}},
                  "Users":$users}"""))
        }
      }
      val results = Await.result(Future.sequence(futures), 120.seconds)
      results.foreach { case (kind, resp) =>
        assert(resp.statusCode() == 200, s"$kind: ${resp.body()}")
        if (kind == "even") {
          assert(resp.body().contains("alice") && resp.body().contains("carol"))
          assert(!resp.body().contains("bob"))
        } else {
          assert(resp.body().contains("bob"))
          assert(!resp.body().contains("alice"))
        }
      }
    } finally srv.stop()
  }

  test("POST /rules/evaluate: invalid rule -> 400 {Error}, like the reference's BadRequest") {
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    try {
      val bad = post(port,
        s"""{"Rule":{"Conditions":{"Conditions":[
              {"Property":"NoSuchColumn","Operator":"Equal","Value":1}]}},
            "Users":$users}""")
      assert(bad.statusCode() == 400)
      assert(bad.body().contains("Error"))
      val noRule = post(port, s"""{"Users":$users}""")
      assert(noRule.statusCode() == 400 && noRule.body().contains("Rule is required"))
    } finally srv.stop()
  }

  test("worker threads are named rule-http-<n>") {
    val srv = new RuleHttpServer(spark)
    val port = srv.start()
    try {
      val resp = post(port,
        s"""{"Rule":{"Conditions":{"Conditions":[
              {"Property":"CompanyCode","Operator":"Equal","Value":"C1"}]}},
            "Users":$users}""")
      assert(resp.statusCode() == 200)
      val names = Thread.getAllStackTraces.keySet.asScala.map(_.getName)
      assert(names.exists(_.matches("rule-http-[0-9]+")), names)
    } finally srv.stop()
  }
}
