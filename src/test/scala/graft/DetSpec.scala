package graft

import graft.ops.Statistics
import graft.util.Det
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Multiply
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The oracle-parity number rules of [[util.Det]] called directly, on
  * values chosen to sit on their edges. */
class DetSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.session

  /** The double-literal spelling of the 6-dp quantize: the reference the
    * `Det.q6(x.cast("double"))` form must equal. */
  private def q6DoubleLiteral(c: Column): Column =
    floor(c * lit(1000000.0) + lit(0.5)) / lit(1000000.0)

  test("q6 of a double cast equals the double-literal quantize for double, decimal and bigint") {
    import spark.implicits._
    val df = Seq(0.0002445, -1.2345675, 3.14159265, 1234567.8912345, 0.0, -0.0000005)
      .toDF("d")
      .withColumn("m", col("d").cast(DecimalType(24, 6)))
      .withColumn("b", (col("d") * 1000).cast("long"))
    for (c <- Seq("d", "m", "b")) {
      val out = df.select(Det.q6(col(c).cast("double")).as("new"),
        q6DoubleLiteral(col(c)).as("old"))
      assert(out.schema("new").dataType === DoubleType, c)
      assert(out.schema("old").dataType === DoubleType, c)
      val rows = out.collect()
      assert(rows.forall(r => r.getDouble(0) == r.getDouble(1)),
        s"$c: ${rows.mkString(", ")}")
    }
    // without the cast, the int literal keeps the ×10⁶ step in the
    // argument's own type: DECIMAL or BIGINT arithmetic, not IEEE
    def scaleType(c: Column): DataType =
      df.select(Det.q6(c)).queryExecution.analyzed.expressions.head
        .collectFirst { case m: Multiply => m.dataType }.get
    assert(scaleType(col("d")) === DoubleType)
    assert(scaleType(col("m").cast("double")) === DoubleType)
    assert(scaleType(col("m")).isInstanceOf[DecimalType])
    assert(scaleType(col("b")) === LongType)
  }

  test("micro rounds the double, microExact rounds through DECIMAL: they differ at 0.0002445") {
    import spark.implicits._
    val r = Seq(0.0002445).toDF("x")
      .select(Det.micro(col("x")), Det.microExact(col("x"))).head()
    assert((r.getLong(0), r.getLong(1)) === ((244L, 245L)))
  }

  test("equalWidthBucket: degenerate range, both ends of the range, NULL in the last bucket") {
    import spark.implicits._
    val nb = 32
    val df = Seq[(Option[Double], Double, Double)](
      (Some(5.0), 5.0, 5.0),   // hi = lo
      (Some(1.0), 1.0, 9.0),   // v = lo
      (Some(9.0), 1.0, 9.0),   // v = hi
      (Some(5.0), 1.0, 9.0),   // midpoint
      (None, 1.0, 9.0))
      .toDF("v", "lo", "hi")
    val got = df.select(Statistics.equalWidthBucket(col("v"), col("lo"), col("hi"), nb))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq
    // least() skips the NULL floor in Spark and DuckDB alike
    assert(got === Seq(Some(0), Some(0), Some(nb - 1), Some(nb / 2), Some(nb - 1)))
  }
}
