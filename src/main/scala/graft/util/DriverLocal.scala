package graft.util

import java.math.{BigDecimal, RoundingMode}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one place an operation decides whether a frame is small enough to
  * run on the driver, and the one driver-side copy of Spark's rounding
  * arithmetic that those driver-local paths replay.
  *
  * Every cap is a session conf `spark.graft.<key>` with a default fixed
  * at its call. A bounded collect is one `limit(cap + 1).collect()`: an
  * over-cap frame costs the driver at most one row more than the cap,
  * never the whole frame.
  *
  * The rounding replays execute the same calls Spark codegen does, so a
  * driver-local recursion walks the same trajectory as its relational
  * twin and as the DuckDB oracle's unrolled decimal chain:
  *  - `Round(x: double, s)` (RoundBase): NaN and ±Inf pass through,
  *    otherwise `BigDecimal.valueOf(x)` rounded HALF_UP to `s` places
  *    and read back as a double;
  *  - `Cast(x: double AS decimal(28,12))`: `BigDecimal.valueOf(x)`
  *    rounded HALF_UP to 12 places (a non-finite double throws
  *    `NumberFormatException`).
  */
object DriverLocal {

  /** The cap `spark.graft.<key>` in `spark`'s session conf, or `default`. */
  def cap(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.get(s"spark.graft.$key", default.toString).toLong

  /** All of `df`'s rows when there are at most `spark.graft.<key>`
    * (default `default`) of them; `None` when there are more. */
  def collectWithin(df: DataFrame, key: String,
      default: Int): Option[Array[Row]] =
    bounded(df, key, default)._2

  /** All of `df`'s rows, or an `IllegalArgumentException` naming `what`,
    * the key and the cap when there are more than `spark.graft.<key>`
    * (default `default`): for driver-local work with no distributed
    * fallback, which fails loudly instead of exhausting driver memory. */
  def collectOrFail(df: DataFrame, key: String, default: Int,
      what: String): Array[Row] = {
    val (c, rows) = bounded(df, key, default)
    rows.getOrElse(throw new IllegalArgumentException(
      s"$what has more than $c rows (spark.graft.$key = $c): it is " +
        "processed driver-local, so it must stay bounded, not data-sized"))
  }

  private def bounded(df: DataFrame, key: String,
      default: Int): (Int, Option[Array[Row]]) = {
    val c = Math.toIntExact(cap(df.sparkSession, key, default))
    val rows = df.limit(c + 1).collect()
    (c, if (rows.length <= c) Some(rows) else None)
  }

  /** Spark's `round(x, 12)` on a double. */
  def r12(x: Double): Double = round(x, 12)

  /** Spark's `round(x, 6)` on a double. */
  def r6(x: Double): Double = round(x, 6)

  /** Spark's `cast(x AS decimal(28,12))` on a double. */
  def dec12(x: Double): BigDecimal =
    BigDecimal.valueOf(x).setScale(12, RoundingMode.HALF_UP)

  /** Spark's `round(x, 12).cast("decimal(28,12)")`: two steps, not one,
    * because the decimal → double → decimal round trip is itself part
    * of the trajectory both engines walk. */
  def t12(x: Double): BigDecimal = dec12(r12(x))

  private def round(x: Double, scale: Int): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal.valueOf(x).setScale(scale, RoundingMode.HALF_UP)
      .doubleValue()
}
