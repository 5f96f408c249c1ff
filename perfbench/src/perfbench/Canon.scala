package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import scala.jdk.CollectionConverters._

/** Order-independent digest of an output: `(rows, hash)`, where hash sums
  * a 32-bit digest of each row's canonical text. The canonical text joins
  * `name=value` over the row's non-null columns sorted by name, with
  * U+0001; doubles render as whole cents. `check.py` computes the same
  * digest in DuckDB from the generator's SQL.
  */
object Canon {
  final case class Digest(rows: Long, hash: Long)

  private val Sep = "\u0001"
  private val mapper = new ObjectMapper()

  /** Digest of a DataFrame, computed by Spark in one aggregate job. */
  def of(df: DataFrame): Digest = {
    val parts = df.schema.fields.sortBy(_.name).map { f =>
      val c = df.col(s"`${f.name}`")
      val v = f.dataType match {
        case DoubleType | FloatType => round(c * 100).cast("long").cast("string")
        case _ => c.cast("string")
      }
      concat(lit(f.name + "="), v)
    }.toSeq
    val h = conv(substring(md5(concat_ws(Sep, parts: _*).cast("binary")), 1, 8), 16, 10)
      .cast("long")
    val r = df.select(h.as("h")).agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    Digest(r.getLong(0), r.getLong(1))
  }

  /** Digest of a JSON array of row objects, as the HTTP surface returns. */
  def ofJson(json: String): Digest = {
    val md = MessageDigest.getInstance("MD5")
    var rows, hash = 0L
    mapper.readTree(json).elements().asScala.foreach { row =>
      val text = row.properties().asScala.toSeq
        .filterNot(e => e.getValue.isNull)
        .sortBy(_.getKey)
        .map(e => e.getKey + "=" + render(e.getValue))
        .mkString(Sep)
      val d = md.digest(text.getBytes(StandardCharsets.UTF_8))
      hash += ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      rows += 1
    }
    Digest(rows, hash)
  }

  private def render(v: JsonNode): String =
    if (v.isTextual) v.textValue
    else if (v.isFloatingPointNumber) math.round(v.doubleValue * 100).toString
    else v.asText
}
