package graft.util

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, round}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.SparkTestBase

class DriverLocalSpec extends SparkTestBase {

  // unset in the session, so each call's default is the cap
  private val key = "driverLocalSpec.rows"

  private def rows(n: Long) = spark.range(0, n, 1, 1).toDF("id")

  test("collectWithin: at most cap rows come back whole, more give None") {
    assert(DriverLocal.collectWithin(rows(5), key, 5)
      .map(_.map(_.getLong(0)).toSeq) == Some(0L until 5L))
    assert(DriverLocal.collectWithin(rows(6), key, 5).isEmpty)
    assert(DriverLocal.collectWithin(rows(0), key, 5)
      .exists(_.isEmpty))
    assert(DriverLocal.collectWithin(rows(1), key, 0).isEmpty)
  }

  test("collectWithin: a small frame costs one job, within cap or over") {
    assert(jobCount(DriverLocal.collectWithin(rows(5), key, 10)) == 1)
    assert(jobCount(DriverLocal.collectWithin(rows(50), key, 10)) == 1)
  }

  test("collectOrFail: over the cap fails loudly, naming key and cap") {
    assert(DriverLocal.collectOrFail(rows(3), key, 3, "the frame")
      .length == 3)
    val e = intercept[IllegalArgumentException] {
      DriverLocal.collectOrFail(rows(4), key, 3, "the frame")
    }
    val msg = e.getMessage
    assert(msg.contains(s"spark.graft.$key") && msg.contains("3") &&
      msg.contains("driver-local") && msg.contains("the frame"), msg)
  }

  /** Negatives, HALF_UP ties at both scales, values near 1e15 (the
    * integer edge of decimal(28,12)), subnormals and seeded products
    * across magnitudes. */
  private val sample: Seq[Double] = {
    val rnd = new scala.util.Random(7)
    val ties = Seq(0.5e-12, 1.5e-12, 2.5e-12, 1.0000000000005,
      0.0000005, 0.0000015, 2.0000025, 123.4565, 0.125)
    val edges = Seq(0.0, -0.0, 1.0, -1.0, 1e15 - 0.3, 9.99e14 + 0.123456,
      -9.87654321e14, 1e-13, 4.9e-13, Double.MinPositiveValue, 1e-310,
      -2.2250738585072014e-308)
    val products = (0 until 400).map { i =>
      val scale = math.pow(10, (i % 24) - 12)
      rnd.nextGaussian() * rnd.nextGaussian() * scale
    }
    (ties ++ ties.map(-_) ++ edges ++ products)
  }

  /** `xs` as a two-partition scan, so Spark's codegen does the rounding. */
  private def frame(xs: Seq[Double]) =
    spark.createDataFrame(spark.sparkContext.parallelize(xs.map(Row(_)), 2),
      StructType(Seq(StructField("x", DoubleType))))

  test("r12/r6/t12 replay Spark's round and decimal cast exactly") {
    val got = frame(sample).select(col("x"), round(col("x"), 12),
      round(col("x"), 6), round(col("x"), 12).cast("decimal(28,12)"))
      .collect()
    assert(got.length == sample.length)
    got.foreach { r =>
      val x = r.getDouble(0)
      assert(DriverLocal.r12(x) == r.getDouble(1), s"r12($x)")
      assert(DriverLocal.r6(x) == r.getDouble(2), s"r6($x)")
      assert(DriverLocal.t12(x) == r.getDecimal(3), s"t12($x)")
    }
  }

  test("r12/r6 pass NaN and ±Inf through, as Spark's round does") {
    val odd = Seq(Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity)
    frame(odd).select(col("x"), round(col("x"), 12), round(col("x"), 6))
      .collect().foreach { r =>
      val x = r.getDouble(0)
      assert(DriverLocal.r12(x).equals(r.getDouble(1)), s"r12($x)")
      assert(DriverLocal.r6(x).equals(r.getDouble(2)), s"r6($x)")
    }
    assert(DriverLocal.r12(Double.NaN).isNaN)
    assert(DriverLocal.r6(Double.NegativeInfinity) ==
      Double.NegativeInfinity)
  }
}
