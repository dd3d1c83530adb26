package perfbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-column summary of one output. Exact columns (integers, strings,
  * arrays, ...) carry an order-independent hash sum. Floating-point columns
  * carry a key-weighted sum `ws`, its absolute counterpart `as` (the scale
  * for the tolerance), the count of NaN/null values, and the min and max of
  * the rest. */
final case class ColSum(name: String, exact: Option[Long], ws: Double, as: Double,
    bad: Long, lo: Double, hi: Double)

final case class Checksum(rows: Long, cols: Seq[ColSum], extra: Map[String, Double]) {
  def toJson: ObjectNode = {
    val o = Json.obj(); o.put("rows", rows)
    val c = o.putObject("cols")
    cols.foreach { s =>
      val e = c.putObject(s.name)
      s.exact match {
        case Some(h) => e.put("h", h)
        case None => e.put("ws", s.ws); e.put("as", s.as); e.put("bad", s.bad)
      }
    }
    o
  }

  /** None when this checksum matches the recorded one. Floating-point
    * columns may differ by `tol` relative to their absolute sum: the engine
    * adds doubles in an order that depends on partitioning and shuffle
    * fetch order. */
  def mismatch(expected: JsonNode, tol: Double): Option[String] = {
    if (expected.get("rows").asLong != rows)
      return Some(s"rows ${rows} != ${expected.get("rows").asLong}")
    cols.flatMap { s =>
      val e = expected.get("cols").get(s.name)
      if (e == null) Some(s"column ${s.name} not recorded")
      else s.exact match {
        case Some(h) => if (e.get("h").asLong == h) None else Some(s"column ${s.name} hash differs")
        case None =>
          val scale = math.max(e.get("as").asDouble, 1e-300) * tol
          if (e.get("bad").asLong != s.bad) Some(s"column ${s.name} NaN/null count differs")
          else if (math.abs(e.get("ws").asDouble - s.ws) > scale ||
            math.abs(e.get("as").asDouble - s.as) > scale) Some(s"column ${s.name} sum differs")
          else None
      }
    }.headOption
  }

  def matches(other: Checksum, tol: Double): Boolean = mismatch(other.toJson, tol).isEmpty
}

/** The sink every operation's output goes through: ONE aggregate action
  * that reads every column of every row (so Catalyst can prune nothing and
  * no sort or projection is skipped the way `count()` allows) and returns
  * an order-independent checksum. */
object Sink {
  private val P = 2147483647L
  private val W = 1000003L

  private def isFloat(t: DataType) = t == DoubleType || t == FloatType

  def checksum(df: DataFrame, extra: Seq[(String, Column)] = Nil): Checksum = {
    val fields = df.schema.fields.toSeq
    val keys = fields.filterNot(f => isFloat(f.dataType)).map(f => col(f.name))
    // the weight ties each float value to its row's key columns, so a value
    // moved to another row changes the sum
    val w = if (keys.isEmpty) lit(1.0) else ((pmod(xxhash64(keys: _*), lit(W)) + 1) / lit(W.toDouble))
    val perCol = fields.flatMap { f =>
      val c = col(f.name)
      if (isFloat(f.dataType)) {
        val v = when(c.isNull || isnan(c), lit(null)).otherwise(c.cast(DoubleType))
        Seq(sum(v * w), sum(abs(v) * w), sum(when(v.isNull, 1).otherwise(0)).cast(LongType), min(v), max(v))
      } else Seq(sum(pmod(xxhash64(c), lit(P))))
    }
    val aggs = (count(lit(1)).as("_rows") +: perCol) ++ extra.map { case (n, e) => e.cast(DoubleType).as(n) }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    def d(i: Int) = if (row.isNullAt(i)) 0.0 else row.getDouble(i)
    def l(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    var i = 1
    val cols = fields.map { f =>
      if (isFloat(f.dataType)) {
        val s = ColSum(f.name, None, d(i), d(i + 1), l(i + 2),
          if (row.isNullAt(i + 3)) Double.NaN else d(i + 3),
          if (row.isNullAt(i + 4)) Double.NaN else d(i + 4))
        i += 5; s
      } else { val s = ColSum(f.name, Some(l(i)), 0, 0, 0, 0, 0); i += 1; s }
    }
    Checksum(l(0), cols, extra.indices.map(j => extra(j)._1 -> d(i + j)).toMap)
  }
}
