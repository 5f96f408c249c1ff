package org.apache.spark.sql.catalyst.graftbridge

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CodegenObjectFactoryMode, ExprUtils, Expression, MutableProjection, RowOrdering, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.aggregate.{Complete, DeclarativeAggregate, ImperativeAggregate}
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonGenerator, JacksonParser, JsonInferSchema}
import org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation
import org.apache.spark.sql.catalyst.planning.PhysicalAggregation
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.FailureSafeParser
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.aggregate.SortBasedAggregationIterator
import org.apache.spark.sql.execution.metric.SQLMetric
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import java.io.{CharArrayWriter, CharConversionException}
import java.nio.charset.{MalformedInputException, StandardCharsets}
import scala.util.Using

/** JSON rows in and out on the driver, built from Spark's own JSON code.
  *
  * `spark.read.json(Seq(json).toDS())` and `toJSON.collect()` each launch a
  * Spark job to move a string the driver already holds: one task infers the
  * schema of the one record, one task parses it, and `toJSON` is a
  * `mapPartitions`. [[read]] and [[write]] run the same inferrer, parser and
  * generator with the same options on the calling thread instead, so schema,
  * rows and reply bytes match those calls by construction. The rows become a
  * `LocalRelation`. [[write]] folds the plan above it into rows on the
  * driver: Catalyst's `ConvertToLocalRelation` folds a deterministic Filter
  * or Project, and Spark's sort-based aggregation iterator folds an
  * aggregate, so a request plan is answered with no job and no generated
  * code.
  *
  * Lives in `org.apache.spark.sql.catalyst` because
  * `JsonInferSchema.canonicalizeType` and `compatibleRootType` are
  * `private[catalyst]` and `Dataset.ofRows` is `private[sql]`.
  */
object LocalJson {

  /** The rows of one JSON document (an array of objects or one object):
    * the same schema and rows as `spark.read.json(Seq(json).toDS())`, as a
    * DataFrame over a `LocalRelation`.
    */
  def read(spark: SparkSession, json: String): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    session.withActive {
      // as DataFrameReader.json builds them: no reader options, so PERMISSIVE
      val conf = session.sessionState.conf
      val options = new JSONOptions(
        Map.empty[String, String], conf.sessionLocalTimeZone, conf.columnNameOfCorruptRecord)
      val corrupt = options.columnNameOfCorruptRecord
      val schema = inferSchema(json, options)
      ExprUtils.verifyColumnNameOfCorruptRecord(schema, corrupt)
      val rawParser = new JacksonParser(
        StructType(schema.filterNot(_.name == corrupt)), options, allowArrayAsStructs = true)
      val parser = new FailureSafeParser[String](
        in => rawParser.parse(in, CreateJacksonParser.string, UTF8String.fromString),
        options.parseMode, schema, corrupt)
      // FailureSafeParser reuses one row for corrupt-record output
      val rows = parser.parse(json).map(_.copy()).toVector
      classic.Dataset.ofRows(session, LocalRelation(DataTypeUtils.toAttributes(schema), rows))
    }
  }

  /** `JsonInferSchema.infer` over a one-record dataset, minus its job: the
    * per-record step, the fold from an empty struct, then canonicalization.
    */
  private def inferSchema(json: String, options: JSONOptions): StructType = {
    val inferrer = new JsonInferSchema(options)
    val record: DataType =
      // byte input, as inference over a Dataset[String] row reads it
      try Using.resource(options.buildJsonFactory().createParser(
          json.getBytes(StandardCharsets.UTF_8))) { p =>
        p.nextToken()
        inferrer.inferField(p)
      } catch {
        // the exceptions infer maps through the parse mode; PERMISSIVE's answer
        case _: RuntimeException | _: JsonProcessingException |
             _: MalformedInputException | _: CharConversionException =>
          StructType(Seq(StructField(options.columnNameOfCorruptRecord, StringType)))
      }
    val root = JsonInferSchema.compatibleRootType(
      options.columnNameOfCorruptRecord, options.parseMode)(StructType(Nil), record)
    // canonicalizeType erases every empty struct, including the root
    inferrer.canonicalizeType(root, options)
      .collect { case s: StructType => s }
      .getOrElse(StructType(Nil))
  }

  /** `df.toJSON.collect().mkString("[", ",", "]")`: the same generator and
    * options over the same rows, without the encoder round trip `collect()`
    * makes. A plan that [[foldLocal]] folds into a `LocalRelation` (every
    * `RuleService` request) is answered on the calling thread, with no Spark
    * job and no SQL execution; any other plan (an unevaluable or
    * non-deterministic expression, a file scan) runs its executed plan as
    * `collect()` does.
    *
    * The request plan is optimized and folded with interpreted expressions:
    * each request's rule is new code that runs once over at most a few
    * thousand rows, so compiling it would cost more than it saves.
    */
  def write(df: DataFrame): String = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    session.withActive {
      val qe = ds.queryExecution
      val conf = session.sessionState.conf
      val interpreted = conf.clone()
      interpreted.setConf(SQLConf.CODEGEN_FACTORY_MODE, CodegenObjectFactoryMode.NO_CODEGEN)
      val rows = SQLConf.withExistingConf(interpreted)(foldLocal(qe.optimizedPlan)) match {
        case LocalRelation(_, data, false, _) => data
        case _ => SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect()).toSeq
      }
      val writer = new CharArrayWriter()
      val gen = new JacksonGenerator(ds.schema, writer,
        new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone))
      val records = rows.map { row =>
        gen.write(row)
        gen.flush()
        val record = writer.toString
        writer.reset()
        record
      }
      gen.close()
      records.mkString("[", ",", "]")
    }
  }

  /** `plan` with every aggregate over local rows replaced by its result
    * rows, and the Filters and Projects above them folded by Catalyst's
    * `ConvertToLocalRelation`, to a fixed point.
    */
  private def foldLocal(plan: LogicalPlan): LogicalPlan = {
    val next = ConvertToLocalRelation(plan.transformUp { case a: Aggregate => foldAggregate(a) })
    if (next.fastEquals(plan)) plan else foldLocal(next)
  }

  /** An `Aggregate` over a non-streaming `LocalRelation` as the
    * `LocalRelation` of its result, computed as `SortAggregateExec` computes
    * it in `Complete` mode: rows sorted by the grouping keys through Spark's
    * `SortBasedAggregationIterator`, and its one-row answer for a grand
    * aggregate over no rows. Distinct aggregates, `FILTER` clauses and
    * unevaluable or non-deterministic expressions stay unfolded.
    */
  private def foldAggregate(a: Aggregate): LogicalPlan = a match {
    case PhysicalAggregation(grouping, aggregates, results, LocalRelation(input, rows, false, _))
        if (grouping ++ results).forall(evaluable) && RowOrdering.isOrderable(grouping) &&
          aggregates.forall(ae => !ae.isDistinct && ae.filter.isEmpty &&
            (ae.aggregateFunction match {
              case f @ (_: DeclarativeAggregate | _: ImperativeAggregate) => evaluable(f)
              case _ => false
            })) =>
      val keyOf = UnsafeProjection.create(grouping, input)
      val sorted = rows.map(row => (keyOf(row).copy(): InternalRow) -> row)
        .sortBy(_._1)(RowOrdering.createNaturalAscendingOrdering(grouping.map(_.dataType)))
      val complete = aggregates.map(_.copy(mode = Complete))
      val it = new SortBasedAggregationIterator(0, grouping, input, sorted.iterator.map(_._2),
        complete, complete.map(_.resultAttribute), 0, results,
        MutableProjection.create(_, _), new SQLMetric("sum"))
      val out =
        if (rows.isEmpty && grouping.isEmpty) Iterator(it.outputForEmptyGroupingKeyWithoutInput())
        else it
      LocalRelation(a.output, out.map(_.copy()).toVector)
    case _ => a
  }

  private def evaluable(e: Expression): Boolean =
    e.deterministic && !ConvertToLocalRelation.hasUnevaluableExpr(e)
}
