package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.DriverLocal

/** Contingency-grid association: the χ²-family effect sizes, per-cell
  * diagnostics, ordinal concordance, and iterative proportional
  * fitting — the grid-level completions of the categorical toolkit
  * (q167 ranks TERMS by per-feature χ²; `Profile.mutualInfo` /
  * `Nonparam.assocMeasures` give information- and PRE-based strengths;
  * none give the textbook χ² effect sizes, the cell residuals a
  * monitoring dashboard drills into, or the raking step every survey/
  * curation reweighting pipeline runs).
  *
  * Shared shape: ONE data-sized hash-agg to the |X|·|Y| joint table
  * (bounded — the category universes do not grow with rows), the full
  * zero-filled grid from a marginal cross-join, then grid arithmetic.
  * Determinism: every float term is 12-dp-rounded onto DECIMAL(28,12)
  * before its order-independent sum; expected counts and ratios are
  * single fixed-association double expressions shared verbatim with
  * the oracle twins.
  */
object Contingency {
  private def t12(c: Column) = round(c, 12).cast("decimal(28,12)")

  /** The zero-filled |X|·|Y| grid with marginals: (x, y, _o observed,
    * _nx, _ny, _n, _r, _c) — the shared trunk of every op here. */
  private def grid(df: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val jd = df.groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("_o")).localCheckpoint()
    val nx = jd.groupBy(col(xCol)).agg(sum(col("_o")).as("_nx"))
    val ny = jd.groupBy(col(yCol)).agg(sum(col("_o")).as("_ny"))
    val tot = jd.agg(sum(col("_o")).as("_n"),
      countDistinct(col(xCol)).as("_r"), countDistinct(col(yCol)).as("_c"))
    nx.crossJoin(ny).join(jd, Seq(xCol, yCol), "left")
      .crossJoin(broadcast(tot))
      .select(col(xCol), col(yCol), coalesce(col("_o"), lit(0L)).as("_o"),
        col("_nx"), col("_ny"), col("_n"), col("_r"), col("_c"))
  }

  /** Expected cell count under independence, the one shared double
    * expression: (nx·ny as exact integer) / n. */
  private def expected: Column =
    (col("_nx") * col("_ny")).cast("double") / col("_n").cast("double")

  /** Pearson χ² of independence with its effect sizes: Cramér's V
    * (= √(χ²/(n·(min(r,c)−1))), the bounded-[0,1] strength the raw χ²
    * — which scales with n — is not), Tschuprow's T, and the
    * contingency coefficient C. Empty cells contribute their expected
    * count exactly ((0−e)²/e = e), summed over the zero-filled grid in
    * both engines. Returns one row: n, dof, chi2_r, v_r, t_r, c_r. */
  def chiSquareGrid(df: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val g = grid(df, xCol, yCol)
    val e = expected
    val term = ((col("_o").cast("double") - e)
      * (col("_o").cast("double") - e) / e)
    val agg = g.groupBy(col("_n"), col("_r"), col("_c"))
      .agg(sum(t12(term)).cast("double").as("_chi2"))
    val nD = col("_n").cast("double")
    val chi2 = col("_chi2")
    agg.select(col("_n").as("n"),
      ((col("_r") - 1) * (col("_c") - 1)).as("dof"),
      round(chi2, 6).as("chi2_r"),
      round(sqrt(chi2 / (nD * (least(col("_r"), col("_c")) - 1)
        .cast("double"))), 6).as("v_r"),
      round(sqrt(chi2 / (nD * sqrt(((col("_r") - 1) * (col("_c") - 1))
        .cast("double")))), 6).as("t_r"),
      round(sqrt(chi2 / (chi2 + nD)), 6).as("c_r"))
  }

  /** Standardized (adjusted) Pearson residuals per cell:
    * r = (o − e) / √(e·(1−nx/n)·(1−ny/n)) — asymptotically N(0,1)
    * under independence, so |r| > 2 names WHICH cells drive a
    * significant χ². Degenerate margins (a single x or y category
    * spanning the whole table) make the denominator 0 and resid_r is
    * NULL for those cells — documented convention, identical in both
    * engines (double ÷0 → NULL), matching the residual's undefined
    * variance there. Returns the full grid: x, y, n_xy, e_r, resid_r. */
  def pearsonResiduals(df: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val g = grid(df, xCol, yCol)
    val e = expected
    val nD = col("_n").cast("double")
    val den = sqrt(e * (lit(1.0) - col("_nx").cast("double") / nD)
      * (lit(1.0) - col("_ny").cast("double") / nD))
    g.select(col(xCol), col(yCol), col("_o").as("n_xy"),
      round(e, 6).as("e_r"),
      round((col("_o").cast("double") - e) / den, 6).as("resid_r"))
  }

  /** Likelihood-ratio G² of independence with the information-criterion
    * deltas vs the saturated model: G² = 2·Σ_{o>0} o·ln(o/e);
    * ΔAIC = G² − 2·dof and ΔBIC = G² − ln(n)·dof (negative = the
    * independence model wins the trade). The deviance complement of
    * [[chiSquareGrid]] — additive across nested models where χ² is
    * not. Returns one row: n, dof, g2_r, aic_delta_r, bic_delta_r. */
  def gSquare(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val g = grid(df, xCol, yCol)
    val term = when(col("_o") > 0,
      lit(2.0) * col("_o").cast("double")
        * log(col("_o").cast("double") / expected)).otherwise(lit(0.0))
    g.groupBy(col("_n"), col("_r"), col("_c"))
      .agg(sum(t12(term)).cast("double").as("_g2"))
      .select(col("_n").as("n"),
        ((col("_r") - 1) * (col("_c") - 1)).as("dof"),
        round(col("_g2"), 6).as("g2_r"),
        round(col("_g2") - lit(2.0)
          * ((col("_r") - 1) * (col("_c") - 1)).cast("double"), 6)
          .as("aic_delta_r"),
        round(col("_g2") - log(col("_n").cast("double"))
          * ((col("_r") - 1) * (col("_c") - 1)).cast("double"), 6)
          .as("bic_delta_r"))
  }

  /** Goodman–Kruskal γ for two ORDINAL integer columns: concordant
    * minus discordant pairs over their sum, ties excluded — the
    * ordinal association [[chiSquareGrid]] (order-blind) cannot see.
    * Pair counts come from the bounded grid² self-join with strict
    * inequalities in one direction (each unordered pair counted once),
    * as exact DECIMAL(38,0) products — never a row-level pair join.
    * gamma_r is version-robust by construction: the ratio is computed
    * as an exact half-up integer division to micro-units
    * (micro = round((c−d)·10⁶/(c+d))) and emitted as an exact
    * DECIMAL(18,6) (micro scaled by the decimal literal 10⁻⁶) — no
    * IEEE double touches the dumped value, so it is bit-identical on
    * any Spark/DuckDB version (r14 VERDICT item 1).
    * Returns one row: n, concordant, discordant, gamma_r. */
  def gkGamma(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    def d38(c: Column) = c.cast("decimal(38,0)")
    val jd = df.groupBy(col(xCol).as("_x"), col(yCol).as("_y"))
      .agg(count(lit(1)).as("_m")).localCheckpoint()
    val tot = jd.agg(sum(col("_m")).as("n"))
    val a = jd.select(col("_x").as("_xa"), col("_y").as("_ya"),
      col("_m").as("_ma"))
    val b = jd.select(col("_x").as("_xb"), col("_y").as("_yb"),
      col("_m").as("_mb"))
    val pairs = a.crossJoin(b)
    val conc = pairs.filter(col("_xa") < col("_xb")
        && col("_ya") < col("_yb"))
      .agg(coalesce(sum(d38(col("_ma")) * col("_mb")),
        lit(0).cast("decimal(38,0)")).as("concordant"))
    val disc = pairs.filter(col("_xa") < col("_xb")
        && col("_ya") > col("_yb"))
      .agg(coalesce(sum(d38(col("_ma")) * col("_mb")),
        lit(0).cast("decimal(38,0)")).as("discordant"))
    broadcast(tot).crossJoin(broadcast(conc)).crossJoin(broadcast(disc))
      .select(col("n"), col("concordant").cast("decimal(38,0)")
          .as("concordant"),
        col("discordant").cast("decimal(38,0)").as("discordant"))
      .withColumn("_num", expr(
        "(concordant - discordant) * cast(1000000 as decimal(38,0))"))
      .withColumn("_den", expr("concordant + discordant"))
      .withColumn("_micro", expr(
        """CASE WHEN _den = 0 THEN CAST(NULL AS BIGINT)
          |WHEN _num >= 0 THEN CAST((_num * 2 + _den) div (_den * 2)
          |  AS BIGINT)
          |ELSE -CAST(((-_num) * 2 + _den) div (_den * 2) AS BIGINT)
          |END""".stripMargin))
      .select(col("n"), col("concordant"), col("discordant"),
        expr("""CAST(CAST(_micro AS DECIMAL(18,0)) * 0.000001
               |  AS DECIMAL(18,6))""".stripMargin).as("gamma_r"))
  }

  /** Iterative proportional fitting (raking) of the joint table to
    * UNIFORM target margins — the survey/curation reweighting step
    * (Deming & Stephan 1940): alternately scale rows then columns so
    * each margin hits its target, `iters` full sweeps. The recursion
    * runs DRIVER-LOCAL on the collected bounded grid (the round-13
    * posture: the grid is |X|·|Y|, never data-sized); margin sums are
    * 12-dp decimal folds and every scale factor is the one
    * fixed-association double expression (target/margin), so the
    * unrolled oracle CTE chain walks the identical trajectory. Zero
    * cells stay zero (the IPF invariant). Over
    * `spark.graft.driverLocal.gridCap` cells it fails loudly. Returns
    * the grid: x, y, n_xy, fitted_r (6 dp), ordered by (x, y) upstream. */
  def ipfRaking(df: DataFrame, xCol: String, yCol: String,
      iters: Int = 3): DataFrame = {
    require(iters >= 1)
    val sp = df.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField(xCol,
        df.schema(xCol).dataType),
      org.apache.spark.sql.types.StructField(yCol,
        df.schema(yCol).dataType),
      org.apache.spark.sql.types.StructField("n_xy",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("fitted_r",
        org.apache.spark.sql.types.DoubleType)))
    val g = grid(df, xCol, yCol)
    // |X|·|Y| category universes, never rows
    val rows = DriverLocal.collectOrFail(g.select(col(xCol), col(yCol),
      col("_o"), col("_n"), col("_r"), col("_c")), "driverLocal.gridCap",
      1 << 20, "ipfRaking's |X|·|Y| grid")
    if (rows.isEmpty)
      return sp.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        schema)
    val n = rows.head.getLong(3)
    val (nr, nc) = (rows.head.getLong(4), rows.head.getLong(5))
    val (tr, tc) = (n.toDouble / nr.toDouble, n.toDouble / nc.toDouble)
    var m: Map[(Any, Any), Double] = rows.map(r =>
      (r.get(0), r.get(1)) -> r.getLong(2).toDouble).toMap
    val xs = rows.map(_.get(0)).distinct
    val ys = rows.map(_.get(1)).distinct
    for (_ <- 1 to iters) {
      val rs = xs.map { x =>
        var acc = java.math.BigDecimal.ZERO
        ys.foreach(y => acc = acc.add(DriverLocal.t12(m((x, y)))))
        x -> acc.doubleValue
      }.toMap
      m = m.map { case ((x, y), v) =>
        (x, y) -> (if (rs(x) == 0.0) v else v * (tr / rs(x)))
      }
      val cs = ys.map { y =>
        var acc = java.math.BigDecimal.ZERO
        xs.foreach(x => acc = acc.add(DriverLocal.t12(m((x, y)))))
        y -> acc.doubleValue
      }.toMap
      m = m.map { case ((x, y), v) =>
        (x, y) -> (if (cs(y) == 0.0) v else v * (tc / cs(y)))
      }
    }
    val out = rows.map { r =>
      org.apache.spark.sql.Row(r.get(0), r.get(1), r.getLong(2),
        DriverLocal.r6(m((r.get(0), r.get(1)))))
    }
    sp.createDataFrame(java.util.Arrays.asList(out: _*), schema)
  }
}
