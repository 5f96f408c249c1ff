package graft.api

import graft.model.RuleJson
import graft.rules.{RuleEvaluator, RuleSetExecutor}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.graftbridge.LocalJson

/** The reference's product surface, minus the web server: evaluate a rule
  * against rows carried WITH the request
  * (reference `POST /rules/evaluate`, `RuleController.cs:12-28`, request
  * shape `{Rule, Users}` at `:31-35`).
  *
  * Rows arrive as a JSON array; the schema is inferred from the data — the
  * Spark analogue of the reference reflecting over the element type's
  * properties at call time. Results return as a JSON array string, errors as
  * thrown exceptions for the embedding layer to map to its transport (the
  * reference maps them to HTTP 400 `{Error}`).
  *
  * Rows are inferred and parsed on the driver with Spark's own JSON inferrer
  * and parser ([[LocalJson]]) into a `LocalRelation`, and replies are written
  * with Spark's own generator: the schema, rows and reply bytes are those of
  * `spark.read.json` and `toJSON`. A filter rule then runs with no Spark job
  * (Catalyst folds its Filter into the `LocalRelation` on the driver), and a
  * rule that fails validation fails before any job; a group-by rule still
  * runs its aggregate as Spark jobs. There is no payload-size threshold back
  * to `spark.read.json`: it read the payload as ONE string row, parsed by one
  * task, so it never spread a large payload either.
  *
  * This entry point targets request-sized payloads (the reference literally
  * POSTs the dataset). Cluster-scale data should enter through
  * `spark.read` + [[graft.rules.RuleEvaluator]] directly.
  */
object RuleService {

  /** Evaluate one rule against a JSON array of rows. */
  def evaluate(spark: SparkSession, rowsJson: String, ruleJson: String,
               externalParams: Map[String, Any] = Map.empty): DataFrame =
    RuleEvaluator(LocalJson.read(spark, rowsJson), RuleJson.parseRule(ruleJson), externalParams)

  /** Evaluate a JSON array of rules: UNION DISTINCT of per-rule results
    * (reference `RuleDefinitionExecutor.Executes`).
    */
  def evaluateAll(spark: SparkSession, rowsJson: String, rulesJson: String,
                  externalParams: Map[String, Any] = Map.empty): DataFrame =
    RuleSetExecutor.executeAll(
      LocalJson.read(spark, rowsJson), RuleJson.parseRules(rulesJson), externalParams)

  /** End-to-end string → string evaluation (the full request/response
    * round-trip of the reference controller).
    */
  def evaluateToJson(spark: SparkSession, rowsJson: String, ruleJson: String,
                     externalParams: Map[String, Any] = Map.empty): String =
    LocalJson.write(evaluate(spark, rowsJson, ruleJson, externalParams))
}
