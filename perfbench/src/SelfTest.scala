package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Self-test of the output checks: the sink's checksum must change when any
  * single value of any output column changes (including a value moved to
  * another row), and must not change when only the row order or the
  * partitioning changes. Prints one line per case and a JSON summary. */
object SelfTest {
  def run(a: Main.Args): Int = {
    val spark = Main.session(a.root, a.cpus)
    val schema = StructType(Seq(
      StructField("id", LongType, false), StructField("name", StringType, false),
      StructField("cell", IntegerType, false), StructField("v", DoubleType, true),
      StructField("vec", ArrayType(FloatType, false), false)))
    val base = (0 until 500).map(i => Row(i.toLong, s"doc$i", i % 37, 100.0 + i * 0.25,
      Array.tabulate(4)(j => (i * 0.5 + j).toFloat).toSeq))
    def df(rows: Seq[Row]): DataFrame = spark.createDataFrame(rows.asJava, schema)
    val ref = Sink.checksum(df(base))
    def changed(i: Int, f: Row => Row): Seq[Row] = base.updated(i, f(base(i)))
    val r = base(123)
    val mutations: Seq[(String, Seq[Row])] = Seq(
      "id" -> changed(123, x => Row(9999L, x(1), x(2), x(3), x(4))),
      "name" -> changed(123, x => Row(x(0), "docX", x(2), x(3), x(4))),
      "cell" -> changed(123, x => Row(x(0), x(1), 36 - x.getInt(2), x(3), x(4))),
      "v" -> changed(123, x => Row(x(0), x(1), x(2), x.getDouble(3) + 1e-3, x(4))),
      "v (NaN)" -> changed(123, x => Row(x(0), x(1), x(2), Double.NaN, x(4))),
      "v (moved to another row)" -> changed(123, x => Row(x(0), x(1), x(2), base(124).getDouble(3), x(4)))
        .updated(124, Row(base(124)(0), base(124)(1), base(124)(2), r.getDouble(3), base(124)(4))),
      "vec" -> changed(123, x => Row(x(0), x(1), x(2), x(3), Seq(0f, 0f, 0f, 0f))),
      "row dropped" -> base.patch(123, Nil, 1))
    val results = mutations.map { case (what, rows) =>
      val ok = !Sink.checksum(df(rows)).matches(ref, 1e-9)
      println(s"selftest: change in $what ${if (ok) "detected" else "NOT detected"}")
      ok
    }
    val stable = Sink.checksum(df(base.reverse).repartition(7)).matches(ref, 1e-9)
    println(s"selftest: reordered + repartitioned ${if (stable) "unchanged" else "CHANGED"}")
    spark.stop()
    val pass = results.forall(identity) && stable
    println(s"""{"selftest": ${if (pass) "\"pass\"" else "\"fail\""}, "cases": ${results.length + 1}}""")
    if (pass) 0 else 1
  }
}
