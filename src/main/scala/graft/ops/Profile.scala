package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.DriverLocal

/** Data-quality profiling: per-column statistics, fixed-width value
  * histograms, and robust per-group outlier flagging — the inspection
  * pass a curation pipeline runs before anything trains on a corpus.
  *
  * Scale posture (100 TB): [[profile]] is ONE scan — a single aggregate
  * row (Catalyst plans the multiple DISTINCT aggregates via Expand, a
  * deliberate exact-answer choice; swap in approx_count_distinct for the
  * one-pass sketch when exactness isn't contractual — q19/q20 cover that
  * trade), melted to rows driver-free with posexplode over an inline
  * array. [[histogram]] buckets by constant-step floor division — a pure
  * map + one agg whose output is |bins|, no sort of the data.
  * [[zscoreOutliers]] aggregates the tiny per-group moment table and
  * broadcast-joins it back: two scans of the fact, zero wide shuffles.
  */
object Profile {

  /** One profiled column: `name` plus the expression rendering its
    * min/max as a canonical string (explicit casts keep the rendering
    * engine-portable — doubles go through DECIMAL, never float
    * formatting). */
  final case class ProfCol(name: String, asString: Column => Column)

  object ProfCol {
    def raw(name: String): ProfCol = ProfCol(name, c => c.cast("string"))
    def dec2(name: String): ProfCol =
      ProfCol(name, c => c.cast("decimal(18,2)").cast("string"))
  }

  /** Per-column profile: (column, n_rows, n_nulls, n_distinct, min_str,
    * max_str) — one row per profiled column, one scan of the input. */
  def profile(df: DataFrame, cols: Seq[ProfCol]): DataFrame = {
    val aggs = cols.flatMap { pc =>
      val c = col(pc.name)
      Seq(
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"_nn_${pc.name}"),
        countDistinct(c).as(s"_nd_${pc.name}"),
        pc.asString(min(c)).as(s"_mn_${pc.name}"),
        pc.asString(max(c)).as(s"_mx_${pc.name}"))
    }
    val one = df.agg(count(lit(1)).as("_rows"), aggs: _*)
    // melt the single wide row into per-column rows without collect():
    // an inline array of structs + explode keeps it a pure projection
    val entries = cols.map { pc =>
      struct(lit(pc.name).as("col_name"),
        col("_rows").as("n_rows"),
        col(s"_nn_${pc.name}").as("n_nulls"),
        col(s"_nd_${pc.name}").as("n_distinct"),
        col(s"_mn_${pc.name}").as("min_str"),
        col(s"_mx_${pc.name}").as("max_str"))
    }
    one.select(explode(array(entries: _*)).as("p")).select("p.*")
  }

  /** Fixed-width histogram: bin = floor(value / step). Constant-step
    * binning (vs min/max-derived widths) keeps bin edges independent of
    * the data — stable across snapshots and engines, and a pure map. */
  def histogram(df: DataFrame, valueCol: String, step: Double): DataFrame = {
    require(step > 0, "histogram step must be positive")
    df.where(col(valueCol).isNotNull)
      .groupBy(floor(col(valueCol) / step).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"),
        min(col(valueCol)).as("lo"),
        max(col(valueCol)).as("hi"))
  }

  /** Winsorization: clamp each row's value to its group's
    * [pLo, pHi] exact interpolated percentiles (outlier clipping before
    * training). The per-group bound table is tiny and broadcast back —
    * same two-scan shape as [[zscoreOutliers]]. Adds `lo`, `hi`, and
    * `<valueCol>_w` (the clamped value).
    *
    * Cross-engine parity note: interpolated percentiles are bit-portable
    * only for binary-exact fractions (.25/.5/.75) over integer-valued
    * columns (see q72); arbitrary fractions like .95 can differ in the
    * last ulp between engines and flip boundary comparisons.
    */
  def winsorize(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo <= pHi, "need 0 <= pLo <= pHi <= 1")
    val bounds = df.groupBy(groupCol)
      .agg(percentile(col(valueCol), lit(pLo)).as("lo"),
        percentile(col(valueCol), lit(pHi)).as("hi"))
    df.join(broadcast(bounds), Seq(groupCol))
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("lo")), col("hi")))
  }

  /** Anonymity generalization ladder: for each proposed generalization
    * level of the quasi-identifier (caller-supplied grouping
    * expressions, coarsest last), the equivalence-class profile —
    * class count, smallest class (the k in k-anonymity), exact median
    * class size, and how many classes fall below the k threshold. The
    * "how much must we coarsen before release" planning table that
    * precedes [[CorpusAudit.dpNoisedRelease]]-style publication.
    *
    * Shape: one hash-agg per level to its class grain (levels are few;
    * each agg is one shuffle), then a |classes|-row rollup per level;
    * class sizes are exact integers, the median is `percentile` over
    * the integer sizes (bit-exact cross-engine — the q95 argument). */
  def anonymityLadder(df: DataFrame,
      levels: Seq[(String, Seq[Column])], k: Long): DataFrame = {
    require(levels.nonEmpty && k >= 1)
    levels.map { case (name, exprs) =>
      df.groupBy(exprs: _*).agg(count(lit(1)).as("_sz"))
        .agg(count(lit(1)).as("n_classes"),
          min(col("_sz")).as("min_k"),
          percentile(col("_sz"), lit(0.5)).as("_med"),
          sum(when(col("_sz") < k, 1L).otherwise(0L))
            .as("n_below_k"))
        .select(lit(name).as("level"), col("n_classes"), col("min_k"),
          round(col("_med"), 6).as("median_k_r"), col("n_below_k"),
          (col("n_below_k") === 0).as("k_anonymous"))
    }.reduce(_ unionByName _)
  }

  /** Pearson residuals of an x × y contingency table: per cell the
    * observed count (INCLUDING structurally-zero cells), the expected
    * count under independence e = rowTot·colTot/N, and the
    * standardized residual (o − e)/√e — the "which cells drive the
    * association" readout a bare χ² statistic ([[mutualInfo]]'s and
    * q167's cousin) cannot give. The global χ² rides along as the
    * order-independent DECIMAL sum of 9-dp-rounded cell terms.
    *
    * Shape: corpus → observed-cell hash-agg; margins are two tiny
    * rollups; the full cell grid is a broadcast cross of the two
    * margin frames (|x|·|y| rows — categorical cardinalities, never
    * corpus-sized). One shared double parenthesization. */
  def chi2Residuals(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val grain = df.groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("_o"))
    val xs = grain.groupBy(col(xCol)).agg(sum(col("_o")).as("_rt"))
    val ys = grain.groupBy(col(yCol)).agg(sum(col("_o")).as("_ct"))
    val n = grain.agg(sum(col("_o")).as("_n"))
    val cells = xs.crossJoin(broadcast(ys)).crossJoin(broadcast(n))
      .join(grain, Seq(xCol, yCol), "left")
      .withColumn("o", coalesce(col("_o"), lit(0L)))
    val e = col("_rt").cast("double") * col("_ct") / col("_n")
    val resid = (col("o") - e) / nullif(sqrt(e), lit(0.0))
    val wAll = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("_chi2", sum(round(resid * resid, 9)
        .cast("decimal(28,9)")).over(wAll))
      .select(col(xCol), col(yCol), col("o"), round(e, 6).as("e_r"),
        round(resid, 6).as("resid_r"),
        round(col("_chi2").cast("double"), 6).as("chi2_r"))
  }

  /** Trimmed mean per group: the mean of values INSIDE [p_lo, p_hi]
    * quantile bounds, outliers DROPPED — [[winsorize]]'s sibling
    * (winsorizing clamps the tails to the bounds; trimming removes
    * them, the estimator of choice when tail rows are suspected junk
    * rather than extreme-but-real). Emits bounds, kept/dropped counts
    * and the 6-dp trimmed mean.
    *
    * Same shape as winsorize: one quantile agg, a broadcast bounds
    * join, one final hash-agg — two passes over the corpus, nothing
    * widens. Exactness: integer-valued inputs make the quantile bounds
    * and the kept-sum bit-exact cross-engine (the q95 argument). */
  def trimmedMean(df: DataFrame, groupCol: String, valueCol: String,
      pLo: Double, pHi: Double): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, "need 0 <= pLo < pHi <= 1")
    val bounds = df.groupBy(groupCol)
      .agg(percentile(col(valueCol), lit(pLo)).as("lo"),
        percentile(col(valueCol), lit(pHi)).as("hi"))
    val in = col(valueCol) >= col("lo") && col(valueCol) <= col("hi")
    df.join(broadcast(bounds), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(min(col("lo")).as("lo"), min(col("hi")).as("hi"),
        count(lit(1)).as("n_total"),
        sum(when(in, 1L).otherwise(0L)).as("n_kept"),
        sum(when(in, col(valueCol))).as("_s"))
      .select(col(groupCol), col("lo"), col("hi"), col("n_total"),
        col("n_kept"), (col("n_total") - col("n_kept")).as("n_dropped"),
        when(col("n_kept") > 0,
          round(col("_s") / nullif(col("n_kept").cast("double"),
            lit(0.0)), 6)).as("trimmed_mean_r"))
  }

  /** Rows whose value deviates from their group mean by more than
    * `threshold` sample standard deviations. The per-group moment table
    * is tiny (|groups| rows) and broadcast back onto the fact table. */
  def zscoreOutliers(df: DataFrame, groupCol: String, valueCol: String,
      threshold: Double): DataFrame = {
    val moments = df.groupBy(groupCol)
      .agg(avg(col(valueCol)).as("_mean"),
        stddev_samp(col(valueCol)).as("_sd"))
    df.join(broadcast(moments), Seq(groupCol))
      // zero/null sd (constant or single-row group) → null z → filtered;
      // an unguarded divide would raise under ANSI mode
      .withColumn("z", when(col("_sd") > 0,
        (col(valueCol) - col("_mean")) / col("_sd")))
      .where(abs(col("z")) > threshold)
      .drop("_mean", "_sd")
  }

  /** Population Stability Index — the standard distribution-drift metric
    * an ML-monitoring pipeline computes between a reference slice and
    * the current slice of a feature: psi = Σ_bins (p_cur − p_ref) ·
    * ln(p_cur / p_ref) over fixed-width bins, with add-half smoothing
    * (n + 0.5) / (total + 0.5·bins) so empty bins stay finite —
    * deterministic rational proportions, no data-dependent bin edges
    * (quantile bins would make the metric depend on a second pass; the
    * fixed grid keeps the whole computation two count-aggs).
    * Rule of thumb: psi < 0.1 stable, > 0.25 drifted.
    *
    * Shape: one (group, bin) count agg per slice — map-side partials
    * absorb everything; the psi rollup regroups |groups|·|bins| rows.
    * Values outside [lo, hi) clamp into the edge bins.
    *
    * The sum runs over the FULL group × [0, nBins) grid, not just the
    * (group, bin) pairs observed in some slice: under add-half
    * smoothing a bin empty in BOTH slices still contributes a nonzero
    * term whenever the two totals differ, so skipping it would quietly
    * compute a different metric than the documented fixed-grid PSI.
    * The grid is |groups| × nBins rows — built by cross-joining the
    * observed groups with a broadcast bins frame, negligible at any
    * scale. */
  def psiDrift(ref: DataFrame, cur: DataFrame, groupCol: String,
      valueCol: String, lo: Double, hi: Double, nBins: Int): DataFrame = {
    require(nBins > 0 && hi > lo)
    val step = (hi - lo) / nBins
    def binned(df: DataFrame, n: String): DataFrame = df
      .select(col(groupCol),
        least(greatest(floor((col(valueCol) - lo) / step), lit(0.0)),
          lit((nBins - 1).toDouble)).cast("int").as("bin"))
      .groupBy(col(groupCol), col("bin")).agg(count(lit(1)).as(n))
    val counts = binned(ref, "n_ref")
      .join(binned(cur, "n_cur"), Seq(groupCol, "bin"), "full_outer")
    val bins = ref.sparkSession.range(nBins.toLong)
      .select(col("id").cast("int").as("bin"))
    val joined = counts.select(col(groupCol)).distinct()
      .crossJoin(broadcast(bins))
      .join(counts, Seq(groupCol, "bin"), "left")
      .select(col(groupCol), col("bin"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val totals = joined.groupBy(col(groupCol))
      .agg(sum(col("n_ref")).as("_tr"), sum(col("n_cur")).as("_tc"))
    joined.join(totals, groupCol)
      .select(col(groupCol),
        ((col("n_ref") + 0.5) / (col("_tr") + 0.5 * nBins)).as("_pr"),
        ((col("n_cur") + 0.5) / (col("_tc") + 0.5 * nBins)).as("_pc"))
      .groupBy(col(groupCol))
      .agg(round(sum((col("_pc") - col("_pr")) * log(col("_pc") / col("_pr"))),
        6).as("psi"))
  }

  /** Per-DIMENSION statistics of an `array` column — the feature-scaling
    * pass over an embedding corpus (per-dim mean/std are exactly the
    * standardization constants; min/max the clipping bounds; a degenerate
    * std flags a dead dimension). posexplode → one hash-agg keyed on the
    * dimension index: |dims| keys regardless of corpus size, so partial
    * aggregation absorbs nearly everything map-side and the shuffle is
    * |partitions| × |dims| rows. Variance via the sum/sumsq identity —
    * explicit, engine-portable reductions (both engines sum in arbitrary
    * order; ~1e-15 relative drift absorbed by round(6), same posture as
    * centroidUpdate). min/max are exact (no rounding). */
  def arrayDimStats(df: DataFrame, arrCol: String): DataFrame = {
    df.select(posexplode(col(arrCol).cast("array<double>"))
        .as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("x")).as("_s"),
        sum(col("x") * col("x")).as("_ss"),
        min(col("x")).as("x_min"), max(col("x")).as("x_max"))
      .select(col("dim"), col("n"),
        round(col("_s") / col("n"), 6).as("mean_r"),
        round(sqrt(col("_ss") / col("n")
          - (col("_s") / col("n")) * (col("_s") / col("n"))), 6).as("std_r"),
        col("x_min"), col("x_max"))
  }

  /** Functional-dependency audit: every `lhsCol` value that maps to more
    * than one distinct `rhsCol` — the violation set of the claimed FD
    * lhs → rhs, the data-contract check a pipeline runs before keying a
    * dimension, dedup, or join on lhs ("is source → lang really
    * single-valued?"). Emits (lhs, n_vals, n_rows) per violating key.
    *
    * Shape: distinct-pair hash-agg then a per-lhs rollup — two
    * map-side-combinable aggregations, never a countDistinct (whose
    * Expand doubles the shuffle); shuffles once by (lhs, rhs) and once
    * by lhs, output ∝ |violating keys|. */
  def fdViolations(df: DataFrame, lhsCol: String,
      rhsCol: String): DataFrame = {
    val pairs = df.groupBy(col(lhsCol), col(rhsCol))
      .agg(count(lit(1)).as("_n"))
    pairs.groupBy(col(lhsCol))
      .agg(count(lit(1)).as("n_vals"), sum(col("_n")).as("n_rows"))
      .where(col("n_vals") > 1)
  }

  /** Benford first-significant-digit audit per group: observed share of
    * each leading digit 1–9 against the Benford expectation
    * log₁₀(1 + 1/d) — the classic fabricated-/synthetic-data smell test
    * for positive, scale-spanning quantities (amounts, counts, file
    * sizes); a machine-generated column that draws uniforms instead of
    * growth processes shows a flat digit profile (Benford, Proc. Am.
    * Phil. Soc. 78, 1938).
    *
    * The leading digit comes from the integer part's decimal string —
    * never from floor(log₁₀ x), whose float rounding at a power-of-ten
    * boundary (log10(1000.0) = 2.9999…96) would misbucket exact powers.
    * Rows with value < 1 are excluded (no integer significant digit).
    *
    * Shape: one hash-agg to (group, digit) — ≤ 9 rows per group — and a
    * share window over that table; corpus is scanned once. */
  def benfordProfile(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val digit = substring(floor(col(valueCol)).cast("long").cast("string"),
      1, 1).cast("int").as("digit")
    val counts = df.where(col(valueCol) >= 1)
      .groupBy(col(groupCol), digit)
      .agg(count(lit(1)).as("n_obs"))
    val wG = Window.partitionBy(groupCol)
    counts.withColumn("_tot", sum(col("n_obs")).over(wG))
      .select(col(groupCol), col("digit"), col("n_obs"),
        round(col("n_obs") / col("_tot"), 6).as("obs_share"),
        round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
          .as("benford_share"))
  }

  /** Directed functional-dependency DISCOVERY over a column set: for
    * every ordered pair (lhs, rhs) of `cols`, how many lhs keys map to
    * more than one rhs value — the schema-inference sweep whose holds
    * rows are candidate keys/hierarchies and whose near-zero-violation
    * rows are data-quality leads ([[fdViolations]] is the single-pair
    * drill-down). Emits |cols|·(|cols|−1) rows.
    *
    * Shape: the |cols|-wide projection is cached once; each pair costs
    * two map-side-combinable hash-aggs over it (never countDistinct).
    * Output is |pairs| rows — the audit never grows with the corpus. */
  def fdDiscovery(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "need at least two columns")
    val proj = df.select(cols.map(col): _*).cache()
    val frames = for {
      l <- cols; r <- cols if l != r
    } yield proj.groupBy(col(l), col(r)).agg(count(lit(1)).as("_n"))
      .groupBy(col(l)).agg(count(lit(1)).as("_v"))
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("_v") > 1, 1L).otherwise(0L)).as("n_violating"))
      .select(lit(l).as("lhs"), lit(r).as("rhs"), col("n_keys"),
        col("n_violating"), (col("n_violating") === 0).as("holds"))
    frames.reduce(_ union _)
  }

  /** Mutual information between two categorical columns,
    * I(X;Y) = Σ p(x,y)·ln(p(x,y)/(p(x)p(y))), with the marginal
    * entropies and the normalized MI(= I/√(H(X)H(Y))) — "does source
    * actually carry information about language", the
    * dependence-strength companion to q167's chi² (chi² scales with N;
    * NMI is the effect size). All probabilities are exact integer
    * ratios; marginals roll up from the ONE joint count table.
    *
    * Shape: one corpus hash-agg to the |X|·|Y| joint table; marginals,
    * total, and the MI/entropy folds all run on that table (round 6
    * over the cell-summation order, the arrayDimStats posture). */
  def mutualInfo(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val jd = df.groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("_nxy")).cache()
    val nx = jd.groupBy(col(xCol)).agg(sum(col("_nxy")).as("_nx"))
    val ny = jd.groupBy(col(yCol)).agg(sum(col("_nxy")).as("_ny"))
    val tot = jd.agg(sum(col("_nxy")).cast("double").as("_n"))
    val mi = jd.join(nx, Seq(xCol)).join(ny, Seq(yCol))
      .crossJoin(broadcast(tot))
      .agg(sum((col("_nxy") / col("_n")) * log((col("_nxy") * col("_n"))
        / (col("_nx").cast("double") * col("_ny")))).as("_mi"),
        max(col("_n")).as("_ntot"))
    def entropy(m: DataFrame, c: String): DataFrame = m
      .crossJoin(broadcast(tot))
      .agg(sum(-(col(c) / col("_n")) * log(col(c) / col("_n")))
        .as(s"_h$c"))
    mi.crossJoin(broadcast(entropy(nx, "_nx")))
      .crossJoin(broadcast(entropy(ny, "_ny")))
      .select(col("_ntot").cast("long").as("n"),
        round(col("_mi"), 6).as("mi_r"),
        round(col("_h_nx"), 6).as("h_x_r"),
        round(col("_h_ny"), 6).as("h_y_r"),
        round(col("_mi") / sqrt(col("_h_nx") * col("_h_ny")), 6)
          .as("nmi_r"))
  }

  /** Poisson-bootstrap standard error of a per-group mean (Chamandy,
    * Muralidharan, Najmi & Naidu, "Estimating uncertainty for massive
    * data streams", Google TR 2012): instead of materializing B
    * resampled copies — impossible at corpus scale — each row gets an
    * independent Poisson(1) weight per replicate, which reproduces the
    * bootstrap's multinomial resampling in ONE streaming pass. The
    * replicate spread is the uncertainty a naive "mean over everything"
    * report hides.
    *
    * Weights come from the md5-hash60 uniform of (id, replicate) pushed
    * through the Poisson(1) inverse CDF (shared decimal literals, so
    * both engines draw identical weights). Emits per group: n_rows, the
    * plain mean, the bootstrap mean-of-means and SE (sum/sumsq identity
    * with the B−1 correction — explicit, engine-portable reductions,
    * round(6) absorbing ~1e-15 summation drift, the arrayDimStats
    * posture).
    *
    * Shape: the B-row replicate spec enters by broadcast nested loop
    * (row fan-out ×B is projection-only), one (group, replicate)
    * hash-agg, then a |groups|·B rollup. No sort, no resampled data. */
  def poissonBootstrap(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, b: Int): DataFrame = {
    require(b >= 2, "need at least 2 replicates")
    val s = df.sparkSession
    import s.implicits._
    val spec = (0 until b).toDF("rep")
    // Poisson(1) CDF: F(k) = e^{-1}·Σ_{j≤k} 1/j! — literals shared with
    // the oracle SQL (poissonCdfSql)
    val u = (TextOps.hash60(concat(col(idCol).cast("string"), lit("#"),
      col("rep").cast("string"))).cast("double")
      / lit(1152921504606846976.0))
    val w = PoissonCdf.foldRight(lit(8): Column) { case ((f, k), acc) =>
      when(u < f, lit(k)).otherwise(acc)
    }
    val reps = df.select(col(groupCol), col(valueCol), col(idCol))
      .crossJoin(broadcast(spec))
      .withColumn("_w", w)
      .groupBy(col(groupCol), col("rep"))
      .agg(sum(col("_w") * col(valueCol)).as("_ws"),
        sum(col("_w")).as("_wn"), count(lit(1)).as("_n"))
      .where(col("_wn") > 0)
      .withColumn("_m", col("_ws") / col("_wn"))
    reps.groupBy(col(groupCol))
      .agg(max(col("_n")).as("n_rows"), count(lit(1)).as("n_reps"),
        sum(col("_m")).as("_s"), sum(col("_m") * col("_m")).as("_ss"))
      .select(col(groupCol), col("n_rows"), col("n_reps"),
        round(col("_s") / col("n_reps"), 6).as("boot_mean_r"),
        round(sqrt((col("_ss") / col("n_reps")
            - (col("_s") / col("n_reps")) * (col("_s") / col("n_reps")))
          * (col("n_reps") / (col("n_reps") - 1))), 6).as("boot_se_r"))
  }

  /** (cdf, k) steps of the Poisson(1) inverse CDF used by
    * [[poissonBootstrap]]; weights above the last threshold clamp to 8
    * (P ≈ 1e-5 — negligible mass, bounded CASE chain). */
  private[graft] val PoissonCdf: Seq[(Double, Int)] = Seq(
    0.36787944117144233 -> 0, 0.7357588823428847 -> 1,
    0.9196986029286058 -> 2, 0.9810118431238462 -> 3,
    0.9963401531726563 -> 4, 0.9994058151824183 -> 5,
    0.9999167588507119 -> 6, 0.9999897508033253 -> 7)

  /** The identical inverse-CDF CASE chain for the DuckDB oracle; `u`
    * is a SQL expression for the uniform. */
  private[graft] def poissonCdfSql(u: String): String =
    PoissonCdf.map { case (f, k) => s"WHEN $u < $f THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")

  /** Two-sample Kolmogorov–Smirnov statistic per group:
    * D = max_v |F_A(v) − F_B(v)| between the slice where `sliceA` is
    * true and its complement — the nonparametric drift test that (unlike
    * [[psiDrift]]'s fixed bins) is sensitive anywhere in the
    * distribution, the standard check that a new ingest batch hasn't
    * shifted a feature's shape. 0 = identical CDFs, 1 = disjoint.
    *
    * Shape: one hash-agg from the corpus to per-(group, value) slice
    * counts, then cumulative + total windows over THAT table (partitions
    * hold |distinct values in group| rows, never corpus rows) and a
    * per-group max rollup. The CDF ratios are integer/integer doubles
    * computed with one shared operand order, so the rounded D matches
    * the oracle exactly. */
  def ksDrift(df: DataFrame, groupCol: String, valueCol: String,
      sliceA: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.groupBy(col(groupCol), col(valueCol))
      .agg(sum(when(sliceA, 1L).otherwise(0L)).as("_a"),
        sum(when(sliceA, 0L).otherwise(1L)).as("_b"))
    val wCum = Window.partitionBy(groupCol).orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wG = Window.partitionBy(groupCol)
    per
      .withColumn("_ca", sum(col("_a")).over(wCum))
      .withColumn("_cb", sum(col("_b")).over(wCum))
      .withColumn("_ta", sum(col("_a")).over(wG))
      .withColumn("_tb", sum(col("_b")).over(wG))
      .groupBy(col(groupCol))
      .agg(min(col("_ta")).as("n_a"), min(col("_tb")).as("n_b"),
        // one-class groups → null D rather than a ÷0 (ANSI-safe)
        round(max(when(col("_ta") > 0 && col("_tb") > 0,
          abs(col("_ca") / col("_ta") - col("_cb") / col("_tb")))), 6)
          .as("ks_d"))
  }

  /** Key-skew profile: the top-k heaviest keys with their share and
    * cumulative share of total rows, plus the Gini coefficient of the
    * full key distribution — the diagnostic that decides whether a
    * downstream join/agg on this key needs salting or an AQE skew valve
    * (SCALE.md doctrine made measurable).
    *
    * Gini over the ASCENDING-sorted key counts x₁ ≤ … ≤ x_S:
    * G = Σᵢ (2i − S − 1)·xᵢ / (S·Σx) — the standard mean-absolute-
    * difference form, 0 = uniform, → 1 = one key holds everything.
    *
    * Scale shape: one corpus scan hash-aggs to the CACHED |keys|-row
    * count table — and NO window ever runs over that table, because
    * |keys| is data-shaped (billions of users at 100 TB, where a
    * global-orderBy rank window is one task):
    *
    *  - Gini collapses to the frequency-of-frequencies table: every
    *    key with count value c occupies a consecutive ascending-rank
    *    run, and the run's Σ(2i−S−1)·c is c·L·(2o+L−S) (o = keys
    *    ranked below the run, L = run length) independent of intra-run
    *    order — so the prefix runs over DISTINCT count values (≤ O(√N)
    *    rows: distinct frequencies sum to N), via
    *    [[Ranks.bandedRunningSum]] so even that table is never one
    *    task. Exact-integer terms; identical sum to the per-key form.
    *  - the top-k ranks come from `orderBy().limit(k)` — Spark's
    *    distributed TakeOrderedAndProject — with the rank/cumulative
    *    windows running over the ≤ k surviving rows only.
    *
    * `bandWidth` bands the count-value axis (default 16). */
  def keySkew(df: DataFrame, keyCol: String, topK: Int,
      bandWidth: Double = 16.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // cached: |keys| rows feeding the scalar agg, the frequency table,
    // and the top-k — one corpus scan total
    val counts = df.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n")).cache()
    val tot = counts.agg(sum(col("n")).cast("double").as("_tot"),
      count(lit(1)).cast("double").as("_s"))
    val freq = counts.groupBy(col("n")).agg(count(lit(1)).as("_l"))
    val offs = Ranks.bandedRunningSum(freq.withColumn("_g", lit(0)),
        "_g", "n", "_l", bandWidth)
      .withColumn("_o", col("runsum") - col("_l"))
    val gini = offs.crossJoin(broadcast(tot))
      .agg((sum(col("n") * col("_l")
        * (lit(2) * col("_o") + col("_l") - col("_s")))
        / (first(col("_s")) * first(col("_tot")))).as("_gini"))
    val wDesc = Window.orderBy(col("n").desc, col(keyCol))
    counts.orderBy(col("n").desc, col(keyCol)).limit(topK)
      .withColumn("rank", row_number().over(wDesc))
      .withColumn("_cum", sum(col("n")).over(
        wDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(gini))
      .select(col("rank"), col(keyCol), col("n"),
        round(col("n") / col("_tot"), 6).as("share_r"),
        round(col("_cum") / col("_tot"), 6).as("cum_share_r"),
        round(col("_gini"), 6).as("gini_r"))
  }

  /** Robust per-group outlier detection via the median absolute
    * deviation: flag rows with |v − median| > k · 1.4826 · MAD (1.4826
    * scales MAD to σ under normality — Hampel's rule). The robust
    * sibling of [[zscoreOutliers]]: mean/stddev are themselves dragged
    * by the outliers they're meant to find; the median/MAD pair has a
    * 50% breakdown point.
    *
    * Both medians keep percentile_cont semantics (interpolated halves
    * are exact binary doubles for integer inputs) and the median
    * arithmetic is bit-identical between the two execution paths below.
    *
    * Shape (r15, guide §1.2 step 1): MAD needs only the per-(group,
    * value) multiplicity, never row identity — so ONE corpus pass folds
    * the data to that histogram, and the median, the deviation grid,
    * the MAD and the outlier counts all run on the bounded
    * (groups × distinct values) table (the [[Ranks.rankSumAuc]]
    * bounded-cardinality posture: integer-grid values like cents have
    * a value universe fixed by the metric's range, not the corpus).
    * The former shape — two [[Ranks.exactQuantiles]] banded-rank
    * passes + a third full scan, ~5 corpus scans total — survives as
    * [[madOutliersBanded]], the fallback when a group's distinct-value
    * count exceeds `spark.graft.profile.histQuantileMaxDistinct`
    * (default 4M — the histogram-median window sorts one group's
    * distinct values in one task, so the valve bounds that task).
    * Feed integer-grid values (e.g. cents) — every deviation is then
    * exact and the single float threshold comparison is one IEEE
    * product, identical in any engine. */
  def madOutliers(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, bandWidth: Double, k: Double = 3.0): DataFrame = {
    val cap = DriverLocal.cap(df.sparkSession,
      "profile.histQuantileMaxDistinct", 4194304L)
    // one corpus pass; |groups × distinct values| rows, consumed by the
    // valve probe, the median pass and the deviation grid
    val hist = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("_hc"))
      .localCheckpoint()
    val maxDistinct = hist.groupBy(col(groupCol)).count()
      .agg(coalesce(max(col("count")), lit(0L))).head().getLong(0)
    if (maxDistinct > cap)
      return madOutliersBanded(df, groupCol, valueCol, idCol, bandWidth, k)
    val med = histMedian(hist, groupCol, valueCol, "_hc")
      .select(col(groupCol), col("q_val").as("_med"))
    val dev = hist.join(broadcast(med), Seq(groupCol))
      .withColumn("_dev", abs(col(valueCol) - col("_med")))
    val devHist = dev.groupBy(col(groupCol), col("_dev"))
      .agg(sum(col("_hc")).as("_hc"))
    val mad = histMedian(devHist, groupCol, "_dev", "_hc")
      .select(col(groupCol), col("q_val").as("_mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(sum(col("_hc")).as("n"), first(col("_med")).as("med"),
        first(col("_mad")).as("mad"),
        sum(when(col("_dev") > lit(k) * lit(1.4826) * col("_mad"),
          col("_hc")).otherwise(0L)).as("n_outliers"))
  }

  /** percentile_cont(0.5) per group from a (group, value, count)
    * HISTOGRAM: the row covering rank ⌊(n−1)/2⌋ contributes
    * value·(2−rem)/2 and (when rem = 1) the row covering the next rank
    * contributes value·rem/2 — the exact [[Ranks.exactQuantiles]]
    * den = 2 weight arithmetic, so q_val is bit-identical to the
    * row-grain form (two equal halves collapsing into one histogram
    * row sum to exactly value·1.0 in IEEE). The cumulative window
    * partitions by group over the HISTOGRAM, so one task sorts one
    * group's distinct values — the caller bounds that cardinality. */
  private def histMedian(hist: DataFrame, groupCol: String,
      valueCol: String, cntCol: String): DataFrame = {
    val wCum = Window.partitionBy(groupCol).orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wG = Window.partitionBy(groupCol)
    hist
      .withColumn("_cum", sum(col(cntCol)).over(wCum))
      .withColumn("_n", sum(col(cntCol)).over(wG))
      .withColumn("_lo", expr("(_n - 1) div 2"))
      .withColumn("_rem", expr("(_n - 1) % 2"))
      .withColumn("_st", col("_cum") - col(cntCol)) // exclusive prefix
      // rows covering rank _lo or (rem = 1) rank _lo + 1
      .filter(col("_st") <= col("_lo") + col("_rem")
        && col("_cum") > col("_lo"))
      .withColumn("_wt",
        when(col("_st") <= col("_lo") && col("_cum") > col("_lo"),
          (lit(2) - col("_rem")) / 2).otherwise(lit(0.0))
          + when(col("_rem") > 0 && col("_st") <= col("_lo") + 1
              && col("_cum") > col("_lo") + 1,
            col("_rem") / 2).otherwise(lit(0.0)))
      .groupBy(col(groupCol))
      .agg(sum(col(valueCol) * col("_wt")).as("q_val"))
  }

  /** The pre-r15 row-grain shape, kept as the over-valve fallback:
    * two [[Ranks.exactQuantiles]] banded-rank passes + the final scan
    * (no single-task sort at ANY distinct-value cardinality, at the
    * price of ~5 corpus passes). */
  private[ops] def madOutliersBanded(df: DataFrame, groupCol: String,
      valueCol: String, idCol: String, bandWidth: Double,
      k: Double = 3.0): DataFrame = {
    val med = Ranks.exactQuantiles(df, groupCol, valueCol, idCol,
        bandWidth, nums = Seq(1), den = 2)
      .select(col(groupCol), col("q_val").as("_med"))
    val dev = df.join(broadcast(med), Seq(groupCol))
      .withColumn("_dev", abs(col(valueCol) - col("_med")))
    val mad = Ranks.exactQuantiles(dev, groupCol, "_dev", idCol,
        bandWidth, nums = Seq(1), den = 2)
      .select(col(groupCol), col("q_val").as("_mad"))
    dev.join(broadcast(mad), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), first(col("_med")).as("med"),
        first(col("_mad")).as("mad"),
        sum(when(col("_dev") > lit(k) * lit(1.4826) * col("_mad"), 1L)
          .otherwise(0L)).as("n_outliers"))
  }

  /** Cohen's kappa — chance-corrected agreement between two binary
    * raters (two labeling heuristics, a model vs a human pass, two
    * annotation vendors): κ = (p_o − p_e)/(1 − p_e) with p_o the
    * observed agreement and p_e the agreement expected from each
    * rater's marginal rates. The QA readout for "are these two quality
    * gates measuring the same thing, beyond baseline luck" — raw
    * agreement alone flatters raters that mostly say the same common
    * class.
    *
    * Shape: ONE hash-agg folds the 2×2 confusion matrix per group;
    * everything else is arithmetic on those four integers in one
    * expression, rounded to 6. κ is null when p_e = 1 (degenerate
    * margins — both raters constant with the same value); that 0/0 is
    * pinned to null (SQL semantics) rather than NaN. */
  def cohenKappa(df: DataFrame, groupCol: String, raterA: Column,
      raterB: Column): DataFrame = {
    val agg = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(when(raterA && raterB, 1L).otherwise(0L)).as("n11"),
      sum(when(raterA && !raterB, 1L).otherwise(0L)).as("n10"),
      sum(when(!raterA && raterB, 1L).otherwise(0L)).as("n01"),
      sum(when(!raterA && !raterB, 1L).otherwise(0L)).as("n00"))
    // p_o·n² and p_e·n² stay integers; κ = (po·n² − pe·n²)/(n² − pe·n²)
    val n2 = col("n") * col("n")
    val po2 = (col("n11") + col("n00")) * col("n")
    val pe2 = (col("n11") + col("n10")) * (col("n11") + col("n01")) +
      (col("n00") + col("n01")) * (col("n00") + col("n10"))
    agg.select(col(groupCol), col("n"), col("n11"), col("n10"),
      col("n01"), col("n00"),
      round(po2.cast("double") / n2.cast("double"), 6).as("po_r"),
      when(n2 - pe2 =!= 0,
        round((po2 - pe2).cast("double") / (n2 - pe2).cast("double"), 6))
        .as("kappa_r"))
  }

  /** Concentration profile per group: Gini coefficient (rank form
    * G = 2·Σrᵢxᵢ/(n·Σx) − (n+1)/n over ascending ranks — tie-order
    * invariant, since swapping equal values' ranks leaves Σr·x
    * unchanged), Herfindahl–Hirschman index (Σxᵢ²/(Σx)² — needs no
    * ranks at all), and the value share held by the top ⌈n/topDen⌉
    * units (topDen=100 → "top 1% share"). The "how unequal is this
    * distribution" readout for revenue, token counts per source, or
    * corpus domain mass — the scalar complements of q271's ABC cut.
    *
    * Scale shape: ONE [[Ranks.bandedRank]] pass (no single-task
    * per-group sort), then one hash-agg; Σr·x and Σx² accumulate as
    * DECIMAL(38,0) (r·x and x² overflow longs long before 100 TB),
    * every ratio is one double evaluation over exact integers.
    * Degenerate groups (Σx = 0) yield null ratios. */
  def concentrationProfile(df: DataFrame, groupCol: String,
      valueCol: String, idCol: String, bandWidth: Double,
      topDen: Int = 100): DataFrame = {
    require(topDen >= 1, "topDen must be >= 1")
    val ranked = Ranks.bandedRank(df, groupCol, valueCol, idCol,
      bandWidth)
    val xd = col(valueCol).cast("decimal(38,0)")
    val topN = expr(s"(grp_n + ${topDen - 1}) div $topDen")
    val agg = ranked.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(col(valueCol)).as("total"),
      sum((col("rnk") + 1).cast("decimal(38,0)") * xd).as("_rx"),
      sum(xd * xd).as("_xx"),
      sum(when(col("rnk") + 1 > col("grp_n") - topN, col(valueCol))
        .otherwise(lit(0L))).as("_topx"),
      max(topN).as("top_n"))
    val nD = col("n").cast("double")
    val totD = col("total").cast("double")
    agg.select(col(groupCol), col("n"), col("total"),
      round(when(col("total") > 0,
        lit(2.0) * col("_rx").cast("double") / (nD * totD)
          - (col("n") + 1).cast("double") / nD), 6).as("gini_r"),
      round(when(col("total") > 0,
        col("_xx").cast("double") / (totD * totD)), 6).as("hhi_r"),
      col("top_n"),
      round(when(col("total") > 0,
        col("_topx").cast("double") / totD), 6).as("top_share_r"))
  }

  /** One inclusion-dependency probe — the foreign-key-candidate
    * discovery primitive schema crawlers run before trusting joins:
    * what fraction of the child column's DISTINCT non-null values
    * appears in the parent column? containment = 1 ⇒ the pair is a
    * referential-integrity candidate (Bauckmann et al., SPIDER).
    * Returns one row: child_col, parent_col (the caller's labels),
    * n_child_distinct, n_matched, containment_r, is_candidate.
    *
    * Shape: both sides reduce to their distinct value sets first
    * (column-pruned scans — each side reads ONE column), then a
    * left-semi-shaped join on values; no row-grain data moves. */
  def inclusion(child: DataFrame, childCol: String, parent: DataFrame,
      parentCol: String, childLabel: String,
      parentLabel: String): DataFrame = {
    // string casts, NOT numeric: containment is equality on values, so
    // the probe must stay type-agnostic — a long cast would silently
    // null out (and exclude) any non-numeric child value, measuring
    // only the numeric-castable subset (DuckDB's ::BIGINT would error
    // on the same input rather than shrink it)
    val cd = child.select(col(childCol).cast("string").as("_v"))
      .where(col("_v").isNotNull).distinct()
    val pd = parent.select(col(parentCol).cast("string").as("_v"))
      .where(col("_v").isNotNull).distinct()
    cd.join(pd.withColumn("_hit", lit(1L)), Seq("_v"), "left")
      .agg(count(lit(1)).as("n_child_distinct"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_matched"))
      .select(lit(childLabel).as("child_col"),
        lit(parentLabel).as("parent_col"),
        col("n_child_distinct"), col("n_matched"),
        round(when(col("n_child_distinct") > 0,
          col("n_matched").cast("double")
            / col("n_child_distinct").cast("double")), 6)
          .as("containment_r"),
        (col("n_child_distinct") > 0 &&
          col("n_matched") === col("n_child_distinct"))
          .as("is_candidate"))
  }

  /** Candidate-key / uniqueness profile: per listed column, row count,
    * exact distinct count, null count, uniqueness ratio, and the
    * candidate-key verdict (all-distinct, no nulls) — the first scan a
    * catalog runs over an unknown table. One pass PER column rather
    * than one multi-countDistinct pass: each scan is column-pruned to
    * a single column and the Expand blow-up of n simultaneous
    * count(DISTINCT)s never materializes — at 100 TB, k cheap pruned
    * scans beat one scan carrying k× the rows. */
  def keyProfile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    val frames = cols.map { c =>
      df.select(col(c).cast("string").as("_v"))
        .agg(count(lit(1)).as("n_rows"),
          count_distinct(col("_v")).as("n_distinct"),
          sum(when(col("_v").isNull, 1L).otherwise(0L)).as("n_null"))
        .select(lit(c).as("col_name"), col("n_rows"),
          col("n_distinct"), col("n_null"),
          round(when(col("n_rows") > 0, col("n_distinct").cast("double")
            / col("n_rows").cast("double")), 6).as("uniq_r"),
          (col("n_rows") > 0 && col("n_distinct") === col("n_rows") &&
            col("n_null") === 0).as("candidate_key"))
    }
    frames.reduce(_ unionByName _)
  }

  /** Theil inequality indices per group — the entropy-based
    * complement of [[concentrationProfile]]'s Gini/HHI: for positive
    * values x with group mean μ,
    *   T = (1/n) Σ (x/μ)·ln(x/μ)   (Theil T, top-sensitive)
    *   L = (1/n) Σ ln(μ/x)          (mean log deviation, bottom-
    *                                 sensitive)
    * Unlike Gini, T decomposes additively into between/within-group
    * terms, which is why inequality audits carry both. Non-positive
    * and null values are EXCLUDED (ln undefined; for exact-cents
    * revenue a zero-spend unit simply isn't in the spending
    * population), and a group needs n ≥ 1 positive rows to appear.
    *
    * Determinism: values enter as exact DECIMAL(38,0) integers; μ is
    * ONE double division of exact sums; each per-row term is
    * 12-dp-rounded before an order-independent DECIMAL sum (the q304
    * convention — the corpus-sized sum is the hazard, not the ln).
    * Group stats re-enter by broadcast join: groups are bounded
    * (segments), rows are not. Returns per group: n, total,
    * theil_t_r, theil_l_r. */
  def theilInequality(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    def t12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(28,12)")
    val pos = df
      .select(col(groupCol), col(valueCol).cast("decimal(38,0)").as("_x"))
      .where(col("_x") > 0)
    val g = pos.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("_x")).as("total"))
    val ratio = col("_x").cast("double") /
      (col("total").cast("double") / col("n").cast("double"))
    pos.join(broadcast(g), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("n")).as("n"), first(col("total")).as("total"),
        sum(t12(ratio * log(ratio))).cast("double").as("_t"),
        sum(t12(log(ratio))).cast("double").as("_l"))
      .select(col(groupCol), col("n"), col("total"),
        round(col("_t") / col("n").cast("double"), 6).as("theil_t_r"),
        round(-col("_l") / col("n").cast("double"), 6).as("theil_l_r"))
  }

  /** Histogram-Based Outlier Score (Goldstein & Dengel 2012): for each
    * row, score = Σ over features log10(maxcount_f / count_f(bin)) —
    * rows sitting in rare bins of MANY independent feature histograms
    * score high. The assumption-free linear-time outlier detector:
    * no distance matrix, no model fit, just |features| hash-aggs and
    * broadcast joins, which is why it survives any corpus size.
    *
    * `binCols` must already be discretized (integer bin ids — the
    * caller owns the binning so the oracle can reproduce it exactly).
    * Each histogram is bounded by its bin cardinality → broadcast;
    * the score is a FIXED-ORDER chain of log10 ratios of exact counts
    * (left-associated adds of identical doubles — engine-
    * deterministic with no grid needed). Returns topK rows: rn, the
    * id column, score_r (6 dp; ties by id ascending). */
  def hbos(df: DataFrame, idCol: String, binCols: Seq[String],
      topK: Int): DataFrame = {
    require(binCols.nonEmpty, "need at least one binned feature")
    var scored = df.select(col(idCol) +: binCols.map(col): _*)
    for (f <- binCols) {
      val hist = df.groupBy(col(f))
        .agg(count(lit(1)).as(s"_c_$f"))
      val hmax = hist.agg(max(col(s"_c_$f")).as(s"_m_$f"))
      scored = scored.join(broadcast(hist), Seq(f))
        .crossJoin(broadcast(hmax))
    }
    val score = binCols.map(f =>
        log10(col(s"_m_$f").cast("double") / col(s"_c_$f")))
      .reduce(_ + _)
    scored.select(col(idCol), score.as("_s"))
      .orderBy(col("_s").desc, col(idCol))
      .limit(topK)
      .select(col(idCol), round(col("_s"), 6).as("score_r"))
      .withColumn("rn", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("score_r").desc, col(idCol))))
      .select(col("rn"), col(idCol), col("score_r"))
  }

  /** Rousseeuw–Croux Sn robust scale (JASA 1993): the 50%-breakdown,
    * location-free spread estimator
    *   Sn = c · lowmed_i ( highmed_{j≠i} |x_i − x_j| ),
    * c = 1.1926 — robust where stddev is not (a single wild day cannot
    * move it) and, unlike MAD, needing no central location first.
    *
    * Contract: `df` is ALREADY a bounded grain (day spine / key grid —
    * the caller owns that reduction), because Sn is pairwise by
    * definition: the pair space is grain², and both medians are exact
    * order statistics (high median = ⌊m/2⌋+1-th of m, low median =
    * ⌊(n+1)/2⌋-th) over exact integer |differences| — no floats
    * anywhere until the final c scaling, so cross-engine determinism
    * is structural. Ties in |d| break by partner id ascending; the
    * selected VALUES are tie-break independent (a rank threshold on
    * (value, id) picks the value-th order statistic of the value
    * multiset regardless of how equal values are ordered among
    * themselves), which is what makes the driver-local replay below
    * exact.
    *
    * Shape (r15): the grain is collected behind
    * `spark.graft.driverLocal.snGrainCap` (default 2¹³) and both order
    * statistics are selected DRIVER-LOCAL over the same exact-integer
    * differences — the former grain² self-join + per-i rank window + global
    * window were pure fixed cost at bounded grain. Over the cap, or if any
    * id/value is null (null ids pair with nothing and null values propagate
    * through the rank — semantics only the relational form defines), the
    * pre-r15 distributed shape runs instead; a parity test pins the two
    * paths row-for-row. Returns one row: n, sn_raw (exact integer, input
    * units), sn_r = round(1.1926 · sn_raw, 6). Empty for n < 2 (no pairs —
    * scale is undefined on a single observation). */
  def snScale(df: DataFrame, idCol: String, valueCol: String): DataFrame = {
    val sp = df.sparkSession
    val v = df.select(col(idCol).as("_i"),
      col(valueCol).cast("long").as("_x"))
    // O(n² log n) driver comparisons: 2¹³ rows ≈ 67M, under a second
    DriverLocal.collectWithin(v, "driverLocal.snGrainCap", 1 << 13)
      .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) match {
      case Some(rows) =>
        snScaleLocal(sp, rows.map(r => (r.get(0), r.getLong(1))))
      case None => snScaleDistributed(v)
    }
  }

  /** Driver-local Sn selection — value-identical to
    * [[snScaleDistributed]]: same pair universe (partners with a
    * DIFFERENT id value, so duplicate ids exclude each other exactly
    * like the relational `_i =!= _j`), same rank thresholds, and the
    * selected order-statistic values do not depend on the id
    * tie-breaks; the final scaling replays Spark's
    * `round(1.1926 · hm, 6)` double pipeline call for call. */
  private def snScaleLocal(sp: org.apache.spark.sql.SparkSession,
      grain: Array[(Any, Long)]): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val schema = StructType(Seq(StructField("n", LongType),
      StructField("sn_raw", LongType), StructField("sn_r", DoubleType)))
    def frame(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      sp.createDataFrame(
        java.util.Arrays.asList(rows: _*), schema)
    val n = grain.length
    if (n < 2) return frame(Seq.empty)
    val k1 = (n - 1) / 2 + 1
    val k2 = (n + 1) / 2
    val hms = scala.collection.mutable.ArrayBuffer.empty[Long]
    var i = 0
    while (i < n) {
      val diffs = new Array[Long](n)
      var m = 0
      var j = 0
      while (j < n) {
        if (grain(j)._1 != grain(i)._1) {
          diffs(m) = math.abs(grain(i)._2 - grain(j)._2)
          m += 1
        }
        j += 1
      }
      // an i whose partner multiset is smaller than the rank threshold
      // (duplicate ids) emits no high median, exactly like the
      // relational where(_rn === k1)
      if (m >= k1) {
        java.util.Arrays.sort(diffs, 0, m)
        hms += diffs(k1 - 1)
      }
      i += 1
    }
    if (hms.length < k2) return frame(Seq.empty)
    val arr = hms.toArray
    java.util.Arrays.sort(arr)
    val snRaw = arr(k2 - 1)
    val snR = DriverLocal.r6(1.1926 * snRaw.toDouble)
    frame(Seq(org.apache.spark.sql.Row(n.toLong, snRaw, snR)))
  }

  /** The pre-r15 relational form, kept as the over-valve / null-input
    * path: grain² self-join, per-i rank window for the high medians,
    * one global window for the low median. */
  private def snScaleDistributed(v0: DataFrame): DataFrame = {
    val win = org.apache.spark.sql.expressions.Window
    val v = v0.localCheckpoint() // both sides of the grain² self-join
    val cnt = v.agg(count(lit(1)).as("_n"))
    val pairs = v
      .join(v.select(col("_i").as("_j"), col("_x").as("_xj")),
        col("_i") =!= col("_j"))
      .select(col("_i"), col("_j"),
        abs(col("_x") - col("_xj")).as("_d"))
    val himed = pairs
      .withColumn("_rn", row_number().over(
        win.partitionBy(col("_i")).orderBy(col("_d").asc, col("_j").asc)))
      .crossJoin(broadcast(cnt))
      .where(col("_rn") === expr("(_n - 1) div 2 + 1"))
      .select(col("_i"), col("_d").as("_hm"), col("_n"))
    himed
      .withColumn("_rn2", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("_hm").asc, col("_i").asc)))
      .where(col("_rn2") === expr("(_n + 1) div 2"))
      .select(col("_n").as("n"), col("_hm").as("sn_raw"),
        round(lit(1.1926) * col("_hm"), 6).as("sn_r"))
  }

  /** Negative-binomial fit for per-key counts by method of moments:
    * the Poisson model every rate assumption implies has variance =
    * mean; real per-user event counts overdisperse, and the NB(r, p)
    * MoM fit — r = m²/(v−m), p = r/(r+m) — sizes HOW overdispersed.
    * One hash-agg to (key, count), one global moment agg (12-dp
    * DECIMAL grid, population variance). v ≤ m (under-dispersion)
    * yields NULL r/p — Poisson or better, no NB fit exists. Returns
    * one row: n_keys, mean_r, var_r, dispersion_r (v/m), nb_r_r,
    * nb_p_r. */
  def negbinFit(df: DataFrame, keyCol: String): DataFrame = {
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("_n"))
    val m = counts.agg(count(lit(1)).as("n_keys"),
      sum(col("_n")).as("_s1"),
      sum(t12(col("_n").cast("double") * col("_n"))).cast("double")
        .as("_s2"))
    val nD = col("n_keys").cast("double")
    val mean = col("_s1").cast("double") / nD
    val vr = col("_s2") / nD - mean * mean
    val r = mean * mean / (vr - mean)
    m.select(col("n_keys"), round(mean, 6).as("mean_r"),
      round(vr, 6).as("var_r"),
      round(vr / mean, 6).as("dispersion_r"),
      round(when(vr > mean, r), 6).as("nb_r_r"),
      round(when(vr > mean, r / (r + mean)), 6).as("nb_p_r"))
  }
  /** Atkinson inequality family at ε ∈ {0.5, 1, 2} plus generalized
    * entropy GE(2), per group — all closed forms free of cross-engine
    * pow: A_{0.5} = 1 − ((1/n)Σ√(y/μ))², A_1 = 1 − exp((1/n)Σln(y/μ))
    * (= 1 − e^{−Theil_L}), A_2 = 1 − n/Σ(μ/y) (harmonic/arithmetic),
    * GE(2) = ((1/n)Σ(y/μ)² − 1)/2 (half squared CV). One data pass to
    * the group grid: exact DECIMAL(38,0) totals fix μ, per-row ratio
    * terms ride the 12-dp grid. Positive integer values only
    * (cents/counts); non-positive rows are dropped like
    * [[theilInequality]]. Returns one row per group ordered by group:
    * (group, n, atkinson05_r, atkinson1_r, atkinson2_r, ge2_r). */
  def atkinsonGe(df: DataFrame, groupCol: String,
      valueCol: String): DataFrame = {
    def t12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(28,12)")
    val pos = df
      .select(col(groupCol), col(valueCol).cast("decimal(38,0)").as("_x"))
      .where(col("_x") > 0)
    val g = pos.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"), sum(col("_x")).as("total"))
    val mu = col("total").cast("double") / col("n").cast("double")
    val ratio = col("_x").cast("double") / mu
    val agg = pos.join(broadcast(g), Seq(groupCol))
      .groupBy(col(groupCol))
      .agg(first(col("n")).as("n"),
        sum(t12(sqrt(ratio))).cast("double").as("_sq"),
        sum(t12(log(ratio))).cast("double").as("_l"),
        sum(t12(lit(1.0) / ratio)).cast("double").as("_inv"),
        sum(t12(ratio * ratio)).cast("double").as("_r2"))
    val nD = col("n").cast("double")
    agg.select(col(groupCol), col("n"),
      round(lit(1.0) - (col("_sq") / nD) * (col("_sq") / nD), 6)
        .as("atkinson05_r"),
      round(lit(1.0) - exp(col("_l") / nD), 6).as("atkinson1_r"),
      round(lit(1.0) - nD / col("_inv"), 6).as("atkinson2_r"),
      round((col("_r2") / nD - lit(1.0)) / lit(2.0), 6).as("ge2_r"))
      .orderBy(col(groupCol))
  }

  /** l-diversity audit over quasi-identifier groups (the sensitive-
    * attribute companion to [[anonymityLadder]]'s k-anonymity): per
    * QI group, the DISTINCT-l (number of distinct sensitive values)
    * and ENTROPY-l (exp of the sensitive-value entropy — the
    * effective number of equally-likely values an attacker faces).
    * A release is distinct-l-diverse at the MINIMUM over groups.
    * Returns one row: n_groups, min_distinct_l, min_entropy_l_r,
    * frac_ge3_r (share of groups with distinct-l ≥ 3).
    *
    * Shape: one (QI, sensitive) hash-agg → one (QI) rollup → one
    * global agg; entropy terms on the 12-dp grid, pinned before
    * exp. */
  def lDiversity(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String): DataFrame = {
    def t12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(28,12)")
    val cells = df.groupBy(
        (qiCols.map(col) :+ col(sensitiveCol)): _*)
      .agg(count(lit(1)).as("_c"))
    val tot = cells.groupBy(qiCols.map(col): _*)
      .agg(sum(col("_c")).as("_n"))
    val p = col("_c").cast("double") / col("_n").cast("double")
    val perGroup = cells.join(tot, qiCols)
      .groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("_l"),
        sum(t12(-p * log(p))).as("_h"))
      .select(col("_l"),
        exp(round(col("_h").cast("double"), 12)).as("_el"))
    perGroup.agg(count(lit(1)).as("n_groups"),
        min(col("_l")).as("min_distinct_l"),
        min(round(col("_el"), 12)).as("_mel"),
        sum(when(col("_l") >= 3, 1L).otherwise(0L)).as("_ge3"))
      .select(col("n_groups"), col("min_distinct_l"),
        round(col("_mel"), 6).as("min_entropy_l_r"),
        round(col("_ge3").cast("double")
          / col("n_groups").cast("double"), 6).as("frac_ge3_r"))
  }

  /** ABC-XYZ inventory segmentation of parts (the planner's 3-by-3):
    * ABC = cumulative revenue share down the revenue-ranked part list
    * (A <= 70 %, B <= 90 %, C rest -- INCLUSIVE cumulative, exact
    * integer cross-multiplied thresholds 10*cum <= 7*T / 9*T), XYZ =
    * weekly-demand variability (cv <= 0.5 X, <= 1 Y, else Z -- exact:
    * 4*(W*Sq2 - S*S) <= S*S etc., W = GLOBAL distinct demand weeks so
    * unobserved weeks count as zero demand). The rank walk uses the
    * banded prefix machinery ([[graft.ops.Ranks.bandedRunningSum]]) --
    * no single-task sort at any |parts|. Returns the zero-filled 3-by-3
    * grid: abc, xyz, n_parts, revenue_cents. */
  def abcXyz(lineitem: DataFrame, partCol: String, priceCol: String,
      qtyCol: String, dateCol: String): DataFrame = {
    val s = lineitem.sparkSession
    import s.implicits._
    val base = lineitem.select(col(partCol).as("_p"),
      expr(s"cast(round($priceCol * 100) as bigint)").as("_cents"),
      col(qtyCol).cast("long").as("_q"),
      date_trunc("week", col(dateCol)).as("_wk"))
      .localCheckpoint()
    val weeks = base.agg(countDistinct(col("_wk")).as("_w"))
    val perWeek = base.groupBy(col("_p"), col("_wk"))
      .agg(sum(col("_q")).as("_wq"))
    val parts = perWeek.groupBy(col("_p"))
      .agg(sum(col("_wq")).as("_sq"),
        sum(col("_wq") * col("_wq")).as("_sq2"))
      .join(base.groupBy(col("_p"))
        .agg(sum(col("_cents")).as("_rev")), Seq("_p"))
      .crossJoin(broadcast(weeks))
      .localCheckpoint()
    val tot = parts.agg(sum(col("_rev")).as("_t"))
    // revenue-descending unique order key (partkey breaks ties);
    // part keys are < 1e7 by fixture contract, asserted upstream
    val ordered = parts.withColumn("_ord",
      -col("_rev") * lit(10000000L) + col("_p"))
    val cum = graft.ops.Ranks.bandedRunningSum(ordered, "_w", "_ord",
      "_rev", 1e15)
    val varq = (col("_w") * col("_sq2") - col("_sq") * col("_sq"))
    val classed = cum.crossJoin(broadcast(tot))
      .select(col("_p"), col("_rev"),
        when(col("runsum") * 10 <= col("_t") * 7, "A")
          .when(col("runsum") * 10 <= col("_t") * 9, "B")
          .otherwise("C").as("abc"),
        when(varq * 4 <= col("_sq") * col("_sq"), "X")
          .when(varq <= col("_sq") * col("_sq"), "Y")
          .otherwise("Z").as("xyz"))
    val grid = Seq("A", "B", "C").flatMap(a =>
      Seq("X", "Y", "Z").map(x => (a, x))).toDF("abc", "xyz")
    broadcast(grid)
      .join(classed.groupBy(col("abc"), col("xyz"))
        .agg(count(lit(1)).as("n_parts"),
          sum(col("_rev")).as("revenue_cents")),
        Seq("abc", "xyz"), "left")
      .select(col("abc"), col("xyz"),
        coalesce(col("n_parts"), lit(0L)).as("n_parts"),
        coalesce(col("revenue_cents"), lit(0L)).as("revenue_cents"))
      .orderBy(col("abc"), col("xyz"))
  }
}
