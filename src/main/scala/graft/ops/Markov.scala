package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.DriverLocal
import graft.util.DriverLocal.{dec12, r12, r6, t12}

/** First-order Markov-chain journey analytics: the removal-effect
  * attribution model (Anderl et al. 2014, "Mapping the customer
  * journey") and the absorption profile (conversion probability +
  * expected steps per state) — the model-based alternative to the
  * heuristic position/decay attributions (q205/q252).
  *
  * The chain: each entity's event sequence is truncated at its FIRST
  * conversion event, prefixed with START, and non-converting journeys
  * are closed with END. `purchase` (the conversion state) and END are
  * absorbing. All chain math runs on the |S|² transition frame —
  * corpus rows are touched exactly once, by the one windowed pass that
  * builds transitions.
  *
  * Determinism: fixed iteration counts (no convergence tests), every
  * probability and value 12-dp-rounded, every cross-row float sum
  * DECIMAL-carried — the stationaryDistribution posture, so engines
  * agree bit-for-bit. Fixed K makes the outputs K-step-horizon
  * quantities (v_K ↑ true absorption probability as K grows); the
  * removal-effect RATIOS are what attribution consumes, and both
  * engines evaluate the same K.
  */
object Markov {

  /** Build journey transitions: per entity, order events, cut at the
    * first `convState` (inclusive), prepend START, and close
    * non-converting journeys with END. Returns (from_state, to_state,
    * n). One window pass + one hash-agg. */
  def journeyTransitions(events: DataFrame, entityCol: String,
      typeCol: String, orderBy: Seq[Column],
      convState: String): DataFrame = {
    val w = Window.partitionBy(entityCol).orderBy(orderBy: _*)
    val wAll = Window.partitionBy(entityCol)
    val e = events
      .withColumn("_rn", row_number().over(w))
      .withColumn("_convrn",
        min(when(col(typeCol) === convState, col("_rn"))).over(wAll))
      .withColumn("_maxrn", max(col("_rn")).over(wAll))
      .where(col("_convrn").isNull || col("_rn") <= col("_convrn"))
    val wf = Window.partitionBy(entityCol).orderBy(col("_rn"))
    val main = e.select(
      coalesce(lag(col(typeCol), 1).over(wf), lit("START"))
        .as("from_state"),
      col(typeCol).as("to_state"))
    val ends = e
      .where(col("_convrn").isNull && col("_rn") === col("_maxrn"))
      .select(col(typeCol).as("from_state"), lit("END").as("to_state"))
    main.unionByName(ends)
      .groupBy(col("from_state"), col("to_state"))
      .agg(count(lit(1)).as("n"))
  }

  /** 12-dp transition probabilities from counts. */
  private def probs(trans: DataFrame): DataFrame = {
    val rowtot = trans.groupBy(col("from_state"))
      .agg(sum(col("n")).as("_tot"))
    trans.join(rowtot, "from_state")
      .select(col("from_state"), col("to_state"),
        round(col("n").cast("double") / col("_tot").cast("double"), 12)
          .as("p"))
  }

  /** One absorption-value iteration: v' = round(c + Σ p·v, 12), the
    * per-scenario matrix-vector step with 12-dp DECIMAL-carried term
    * sums. `c` holds (scen, state, c); `v` holds (scen, state, v). */
  private def step(ptab: DataFrame, c: DataFrame,
      v: DataFrame): DataFrame = {
    val vr = v.select(col("scen").as("_vs"), col("state").as("_vt"),
      col("v"))
    val acc = ptab
      .join(vr, col("_vs") === col("scen") &&
        col("_vt") === col("to_state"))
      .groupBy(col("scen"), col("from_state").as("state"))
      .agg(sum(round(col("p") * col("v"), 12).cast("decimal(28,12)"))
        .cast("double").as("_acc"))
    c.join(acc, Seq("scen", "state"), "left")
      .select(col("scen"), col("state"),
        round(col("c") + coalesce(col("_acc"), lit(0.0)), 12).as("v"))
  }

  /** Conversion-contribution frame c(scen, state) = P(state→conv)
    * under that scenario (0 when the edge is absent). */
  private def convContrib(ptab: DataFrame,
      convState: String): DataFrame =
    ptab.groupBy(col("scen"), col("from_state").as("state"))
      .agg(coalesce(sum(when(col("to_state") === convState, col("p"))
        .cast("decimal(28,12)")).cast("double"), lit(0.0)).as("c"))

  /** The (from_state, to_state, n) frame collected for the driver-local
    * chain recursions. None — and thereby the distributed fallback —
    * when the frame is over `spark.graft.driverLocal.markovTransCap`, a
    * state column is not a string, or any value is null (null-state
    * semantics only the relational form defines). */
  private def collectTrans(
      trans: DataFrame): Option[Array[(String, String, Long)]] = {
    import org.apache.spark.sql.types.StringType
    val fields = trans.schema.fields
    if (fields.length < 3 || fields(0).dataType != StringType ||
        fields(1).dataType != StringType) return None
    // |S|² rows, O(iters·|S|³) decimal ops: 4096 ≈ a 64-state universe
    DriverLocal.collectWithin(trans, "driverLocal.markovTransCap", 1 << 12)
      .filter(_.forall(r =>
        !r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)))
      .map(_.map(r => (r.getString(0), r.getString(1), r.getLong(2))))
  }

  /** Driver-local replay of one scenario's K-step absorption
    * recursion — call-for-call the [[step]]/[[convContrib]] pipeline:
    * p = round(n/tot, 12); c(s) = Σ dec12(p) over s→conv edges
    * (exact decimal sum → double); v₁ = round(c, 12) (or round(1, 12)
    * for the expected-steps variant via `contrib`); each step sums
    * dec12(round(p·v, 12)) per target exactly and re-rounds
    * v' = round(c + Σ, 12). Returns the v_K map keyed like c. */
  private def absorbLocal(edges: Array[(String, String, Double)],
      conv: String, iters: Int,
      contrib: Map[String, Double] => Map[String, Double])
      : Map[String, Double] = {
    val byFrom = edges.groupBy(_._1)
    val c0: Map[String, Double] = byFrom.map { case (s0, es) =>
      val convEs = es.filter(_._2 == conv)
      s0 -> (if (convEs.isEmpty) 0.0
      else convEs.foldLeft(java.math.BigDecimal.ZERO) {
        (acc, e) => acc.add(dec12(e._3))
      }.doubleValue())
    }
    val c = contrib(c0)
    var v: Map[String, Double] = c.map { case (s0, x) => s0 -> r12(x) }
    for (_ <- 2 to iters) {
      val prev = v
      v = c.map { case (s0, cs) =>
        var acc = java.math.BigDecimal.ZERO
        byFrom.getOrElse(s0, Array.empty).foreach { case (_, t, p) =>
          prev.get(t).foreach(pv => acc = acc.add(t12(p * pv)))
        }
        s0 -> r12(cs + acc.doubleValue())
      }
    }
    v
  }

  /** 12-dp transition probabilities from the collected counts —
    * [[probs]] replayed driver-side. */
  private def probsLocal(ts: Array[(String, String, Long)])
      : Array[(String, String, Double)] = {
    val tot: Map[String, Long] =
      ts.groupBy(_._1).map { case (s0, rs) => s0 -> rs.map(_._3).sum }
    ts.map { case (f, t, n) =>
      (f, t, r12(n.toDouble / tot(f).toDouble)) }
  }

  /** Removal-effect attribution: for each non-START transient state r,
    * delete every edge touching r (its mass is lost — the standard
    * redirect-to-null semantics, NOT renormalized), re-run the K-step
    * absorption recursion, and credit r with
    * RE(r) = 1 − v'_K(START)/v_K(START); shares normalize over ΣRE.
    * Emits per removed state: p_full_r, p_removed_r,
    * removal_effect_r, attribution_r.
    *
    * Shape (r15): the recursion is |scenarios|·|S|²-bounded — nothing
    * in it touches the corpus (journeyTransitions already reduced to
    * the |S|² frame) — so it runs DRIVER-LOCAL on the collected
    * transition counts behind `spark.graft.driverLocal.markovTransCap`
    * (the textRank/bradleyTerry posture; the former per-step join
    * chain paid ~0.1 s/step of pure fixed cost × 2·K steps). Both
    * paths walk the identical 12-dp decimal trajectory — pinned by a
    * parity test that forces the fallback via the valve conf. */
  def removalAttribution(trans: DataFrame, convState: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    collectTrans(trans) match {
      case Some(ts) =>
        removalAttributionLocal(trans.sparkSession, ts, convState, iters)
      case None => removalAttributionDistributed(trans, convState, iters)
    }
  }

  /** Driver-local replay of [[removalAttributionDistributed]] —
    * value-identical: same scenario list (distinct non-START
    * from-states), same edge filters, same 12-dp recursion
    * ([[absorbLocal]]), same final when/round pipeline (a scenario
    * whose recursion strands START reports p_removed = 0; pf ≤ 0 nulls
    * the removal effect; Σ RE ≤ 0 or null nulls the shares). */
  private def removalAttributionLocal(
      sp: org.apache.spark.sql.SparkSession,
      ts: Array[(String, String, Long)], convState: String,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("state", StringType),
      StructField("p_full_r", DoubleType),
      StructField("p_removed_r", DoubleType),
      StructField("removal_effect_r", DoubleType),
      StructField("attribution_r", DoubleType)))
    def frame(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      sp.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    val p = probsLocal(ts)
    val scens = ts.map(_._1).distinct.filterNot(_ == "START").toSeq
    def vK(scen: Option[String]): Map[String, Double] = {
      val es = scen match {
        case None => p
        case Some(r) => p.filter(e => e._1 != r && e._2 != r)
      }
      absorbLocal(es, convState, iters, identity)
    }
    val full = vK(None)
    if (!full.contains("START")) return frame(Seq.empty)
    val pf = full("START")
    val pr: Seq[(String, Double)] =
      scens.map(r => r -> vK(Some(r)).getOrElse("START", 0.0))
    val re: Seq[(String, Double, Option[Double])] = pr.map {
      case (r, x) =>
        (r, x, if (pf > 0) Some(r12(1.0 - x / pf)) else None)
    }
    val reVals = re.flatMap(_._3)
    val tot: Option[Double] = if (reVals.isEmpty) None
    else Some(reVals.foldLeft(java.math.BigDecimal.ZERO) {
      (acc, x) => acc.add(dec12(x))
    }.doubleValue())
    frame(re.map { case (r, x, reo) =>
      org.apache.spark.sql.Row(r, r6(pf), r6(x),
        reo.map(v => Double.box(r6(v))).orNull,
        (for (t <- tot if t > 0; v <- reo) yield Double.box(r6(v / t)))
          .orNull)
    })
  }

  /** The pre-r15 distributed recursion, kept as the over-valve /
    * null-input path: scenarios ride one shared (scen, state)-keyed
    * recursion — |scenarios|·|S|² rows per step, all bounded. */
  private def removalAttributionDistributed(trans: DataFrame,
      convState: String, iters: Int): DataFrame = {
    val s = trans.sparkSession
    import s.implicits._
    val p = probs(trans)
    val scen = Seq("full").toDF("scen").unionByName(
      trans.select(col("from_state").as("scen"))
        .where(col("scen") =!= "START").distinct())
    val ptab = scen.crossJoin(p)
      .where(col("scen") === "full" ||
        (col("from_state") =!= col("scen") &&
          col("to_state") =!= col("scen")))
      .localCheckpoint() // consumed every iteration
    val c = convContrib(ptab, convState).localCheckpoint()
    var v = c.select(col("scen"), col("state"),
      round(col("c"), 12).as("v"))
    for (_ <- 2 to iters) v = step(ptab, c, v)
    val fin = v.where(col("state") === "START")
    val pf = fin.where(col("scen") === "full")
      .select(col("v").as("_pf"))
    // left join against the scenario list: a removal that strands
    // START with no outgoing edges must report p_removed = 0, not
    // silently drop its row
    val pr = scen.where(col("scen") =!= "full")
      .join(fin.drop("state"), Seq("scen"), "left")
      .select(col("scen").as("state"),
        coalesce(col("v"), lit(0.0)).as("_pr"))
    val re = pr.crossJoin(broadcast(pf))
      .withColumn("_re",
        round(when(col("_pf") > 0, lit(1.0) - col("_pr") / col("_pf")),
          12))
    val tot = re.agg(sum(col("_re").cast("decimal(28,12)"))
      .cast("double").as("_tot"))
    re.crossJoin(broadcast(tot))
      .select(col("state"), round(col("_pf"), 6).as("p_full_r"),
        round(col("_pr"), 6).as("p_removed_r"),
        round(col("_re"), 6).as("removal_effect_r"),
        round(when(col("_tot") > 0, col("_re") / col("_tot")), 6)
          .as("attribution_r"))
  }

  /** Absorption profile of the FULL chain: per transient state, the
    * K-step conversion probability v_K(s) and the K-step-truncated
    * expected journey length t_K(s) = Σ-partial of
    * t = 1 + Σ_transient p·t — "how likely does a session here
    * convert, and how long does it keep going". Same bounded
    * recursion; both columns from one transition frame. Runs
    * DRIVER-LOCAL behind the `driverLocal.markovTransCap` valve like
    * [[removalAttribution]] (parity-test-pinned); the distributed
    * per-step join chain is the over-valve fallback. */
  def absorptionProfile(trans: DataFrame, convState: String,
      iters: Int): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    collectTrans(trans) match {
      case Some(ts) =>
        absorptionProfileLocal(trans.sparkSession, ts, convState, iters)
      case None => absorptionProfileDistributed(trans, convState, iters)
    }
  }

  /** Driver-local replay of [[absorptionProfileDistributed]] — the
    * conversion recursion with the real c and the expected-steps
    * recursion with c ≡ 1, both over the same edge set, joined on the
    * shared state key set. */
  private def absorptionProfileLocal(
      sp: org.apache.spark.sql.SparkSession,
      ts: Array[(String, String, Long)], convState: String,
      iters: Int): DataFrame = {
    import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("state", StringType),
      StructField("p_conv_r", DoubleType),
      StructField("steps_r", DoubleType)))
    val p = probsLocal(ts)
    val v = absorbLocal(p, convState, iters, identity)
    val t = absorbLocal(p, convState, iters,
      _.map { case (k, _) => k -> 1.0 })
    val rows = v.keysIterator.map(s0 =>
      org.apache.spark.sql.Row(s0, r6(v(s0)), r6(t(s0)))).toSeq
    sp.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The pre-r15 distributed recursion, kept as the over-valve /
    * null-input path. */
  private def absorptionProfileDistributed(trans: DataFrame,
      convState: String, iters: Int): DataFrame = {
    val s = trans.sparkSession
    import s.implicits._
    val ptab = Seq("full").toDF("scen").crossJoin(probs(trans))
      .localCheckpoint()
    val c = convContrib(ptab, convState).localCheckpoint()
    var v = c.select(col("scen"), col("state"),
      round(col("c"), 12).as("v"))
    // expected-steps recursion shares step() with c ≡ 1
    val ones = c.select(col("scen"), col("state"), lit(1.0).as("c"))
      .localCheckpoint()
    var t = ones.select(col("scen"), col("state"),
      round(col("c"), 12).as("v"))
    for (_ <- 2 to iters) {
      v = step(ptab, c, v)
      t = step(ptab, ones, t)
    }
    v.select(col("state"), col("v").as("_pc"))
      .join(t.select(col("state"), col("v").as("_st")), Seq("state"))
      .select(col("state"), round(col("_pc"), 6).as("p_conv_r"),
        round(col("_st"), 6).as("steps_r"))
  }

  /** Likelihood-ratio test of the FIRST-ORDER Markov assumption the
    * attribution model ([[removalEffects]]) rests on, against a
    * second-order alternative (Anderson & Goodman 1957): over
    * consecutive within-entity state trigrams (a, b, c),
    *   G² = 2 Σ_abc n_abc · ln( n_abc·n_b / (n_ab·n_bc) )
    * where every margin (n_ab = Σ_c, n_bc = Σ_a, n_b = Σ_ac) comes
    * from the SAME trigram table, with df = m·(m−1)² for m = distinct
    * states appearing in any trigram slot. Large G² ⇒ P(c | a, b)
    * genuinely depends on a, and a first-order chain (and everything
    * built on its transition matrix) is misspecified.
    *
    * Shape: corpus rows are touched once, by one entity-partitioned
    * window pass (two lags); everything after lives on the ≤ m³
    * trigram grain — margins are re-aggregations of it, joins on it
    * are broadcast-sized. Terms are 12-dp-rounded before the DECIMAL
    * sum; n_abc·n_b and n_ab·n_bc are multiplied as DECIMAL(38,0) —
    * exact up to ~1e38, so counts to 2⁶³ rows never overflow (a raw
    * BIGINT product would wrap past ~3e9 trigrams under ANSI) — and
    * meet in ONE double division, so both engines evaluate identical
    * ln arguments. Returns one row: n_trigrams, m_states, df, g2_r. */
  def orderTest(events: DataFrame, entityCol: String, typeCol: String,
      orderBy: Seq[Column]): DataFrame = {
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val w = Window.partitionBy(entityCol).orderBy(orderBy: _*)
    // localCheckpoint: the trigram table has four consumers below
    // (the assocMeasures multi-consumer convention)
    val tri = events
      .withColumn("_b", lag(col(typeCol), 1).over(w))
      .withColumn("_a", lag(col(typeCol), 2).over(w))
      .where(col("_a").isNotNull)
      .groupBy(col("_a").as("a"), col("_b").as("b"),
        col(typeCol).as("c"))
      .agg(count(lit(1)).as("n_abc"))
      .localCheckpoint()
    val nab = tri.groupBy(col("a"), col("b"))
      .agg(sum(col("n_abc")).as("n_ab"))
    val nbc = tri.groupBy(col("b"), col("c"))
      .agg(sum(col("n_abc")).as("n_bc"))
    val nb = tri.groupBy(col("b")).agg(sum(col("n_abc")).as("n_b"))
    val m = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("_s"))
      .agg(count_distinct(col("_s")).as("m_states"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val lnArg = (d38(col("n_abc")) * d38(col("n_b"))).cast("double") /
      (d38(col("n_ab")) * d38(col("n_bc"))).cast("double")
    val g = tri.join(nab, Seq("a", "b")).join(nbc, Seq("b", "c"))
      .join(nb, Seq("b"))
      .agg(sum(col("n_abc")).as("n_trigrams"),
        sum(t12(col("n_abc").cast("double") * log(lnArg)))
          .cast("double").as("_g"))
    g.crossJoin(broadcast(m))
      .select(col("n_trigrams"), col("m_states"),
        (col("m_states") * (col("m_states") - 1)
          * (col("m_states") - 1)).as("df"),
        round(lit(2.0) * col("_g"), 6).as("g2_r"))
  }

  /** Entropy production rate of the event-type chain (Schnakenberg
    * 1976): EP = (1/2) sum over ordered type pairs of
    * (n_ij - n_ji) * ln(n_ij/n_ji) over within-entity consecutive
    * transitions -- the time-IRREVERSIBILITY of the process, zero iff
    * the joint flow satisfies detailed balance. The directional
    * complement of [[orderTest]] (memory depth) and the entropy-rate
    * magnitude ([[graft.ops.Behavior.entropyRate]]): a chain can be
    * first-order and low-entropy yet strongly irreversible
    * (view->click->purchase flows one way). Pairs with one-sided flow
    * (n_ij > 0, n_ji = 0) are EXCLUDED (the standard regularization;
    * their raw term diverges) and reported in n_onesided. Exact
    * integer counts; one double ratio into ln per pair, 12-dp term
    * sums. Returns one row: n_transitions, n_pairs, n_onesided,
    * ep_r, ep_per_step_r. */
  def entropyProduction(events: DataFrame, entityCol: String,
      typeCol: String, orderBy: Seq[Column]): DataFrame = {
    def t12(c: Column) = round(c, 12).cast("decimal(28,12)")
    val w = Window.partitionBy(entityCol).orderBy(orderBy: _*)
    val tr = events
      .withColumn("_next", lead(col(typeCol), 1).over(w))
      .filter(col("_next").isNotNull)
      .groupBy(col(typeCol).as("_a"), col("_next").as("_b"))
      .agg(count(lit(1)).as("_n"))
      .localCheckpoint()
    // full outer: a pair with flow in only ONE direction must still be
    // counted as one-sided whichever direction carries the flow
    val pairs = tr.select(col("_a"), col("_b"), col("_n"))
      .join(tr.select(col("_b").as("_a"), col("_a").as("_b"),
        col("_n").as("_nr")), Seq("_a", "_b"), "full_outer")
      .where(col("_a") < col("_b"))
    val tot = tr.agg(sum(col("_n")).as("n_transitions"))
    val both = col("_n").isNotNull && col("_nr").isNotNull
    val ag = pairs.agg(
      sum(when(both, 1L).otherwise(0L)).as("n_pairs"),
      sum(when(!both, 1L).otherwise(0L)).as("n_onesided"),
      coalesce(sum(when(both,
        t12((col("_n") - col("_nr")).cast("double")
          * log(col("_n").cast("double") / col("_nr").cast("double"))))),
        lit(0).cast("decimal(28,12)")).cast("double").as("_ep"))
    broadcast(tot).crossJoin(broadcast(ag))
      .select(col("n_transitions"), col("n_pairs"), col("n_onesided"),
        round(col("_ep"), 6).as("ep_r"),
        round(col("_ep") / col("n_transitions").cast("double"), 6)
          .as("ep_per_step_r"))
  }
}
