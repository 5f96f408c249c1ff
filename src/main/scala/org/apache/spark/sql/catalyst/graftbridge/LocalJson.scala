package org.apache.spark.sql.catalyst.graftbridge

import com.fasterxml.jackson.core.JsonProcessingException
import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.catalyst.expressions.ExprUtils
import org.apache.spark.sql.catalyst.json.{CreateJacksonParser, JSONOptions, JacksonGenerator, JacksonParser, JsonInferSchema}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.FailureSafeParser
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
  * `LocalRelation`, which Catalyst's `ConvertToLocalRelation` folds a
  * deterministic Filter or Project into, so such a plan collects with no job.
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

  /** `df.toJSON.collect().mkString("[", ",", "]")` without the job that
    * `toJSON`'s `mapPartitions` forces: the same row serializer, generator
    * and options, over the collected rows.
    */
  def write(df: DataFrame): String = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.withActive {
      val writer = new CharArrayWriter()
      val gen = new JacksonGenerator(ds.exprEnc.schema, writer,
        new JSONOptions(Map.empty[String, String],
          ds.sparkSession.sessionState.conf.sessionLocalTimeZone))
      val toRow = ds.exprEnc.createSerializer()
      val records = ds.collect().map { row =>
        gen.write(toRow(row))
        gen.flush()
        val record = writer.toString
        writer.reset()
        record
      }
      gen.close()
      records.mkString("[", ",", "]")
    }
  }
}
