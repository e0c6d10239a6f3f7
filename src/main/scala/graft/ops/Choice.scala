package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.util.DriverLocal

/** Pairwise-preference models: turn observed head-to-head outcomes into
  * per-item strengths (builder extension; the reference's per-entity
  * aggregations rank items by raw totals — fetch_youtube_data.py:149-198
  * sorts channels by view counts — while a paired model controls for WHO
  * an item was compared against).
  */
object Choice {
  /** Bradley–Terry strengths by minorization–maximization (Hunter 2004):
    * given duel outcomes (winner, loser) rows, iterate
    *   p_i ← W_i / Σ_{j≠i} n_ij / (p_i + p_j),
    * then rescale to Σ p = 1, `iters` times from the uniform start —
    * the maximum-likelihood "skill" under P(i beats j) = p_i/(p_i+p_j).
    * Unlike a raw win count, a win over a strong opponent moves p more
    * than a win over a weak one.
    *
    * Shape: one hash-agg builds the duel matrix — the only data-sized
    * work; the matrix is items²-BOUNDED (the item universe does not
    * grow with rows), so the MM recursion runs DRIVER-LOCAL on the
    * collected matrix (the round-13 checkpoint-floor fix: ten steps of
    * d-row broadcast joins each paid a ~0.35 s localCheckpoint of pure
    * fixed cost). Determinism: each denominator term n_ij/(p_i+p_j)
    * and each rescale term is 12-dp-rounded onto DECIMAL(28,12) via
    * the exact Round/Cast calls Spark codegen executes, summed as
    * exact decimals (order-independent), so both engines walk the
    * same trajectory the unrolled oracle CTE chain pins.
    * Items that never win converge to p = 0 (their W_i = 0); an item
    * with no losses at all drives its p toward 1 — both are the true
    * (boundary) MLE direction and stay finite under the rescale.
    * Over `spark.graft.driverLocal.itemCap` items it fails loudly.
    * Returns one row per item: item, w (total wins), p_r (6 dp),
    * rnk (by p desc, item asc). */
  def bradleyTerry(duels: DataFrame, winnerCol: String, loserCol: String,
      iters: Int = 10): DataFrame = {
    require(iters >= 1, "need at least one MM iteration")
    val w = duels
      .groupBy(col(winnerCol).as("_i"), col(loserCol).as("_j"))
      .agg(count(lit(1)).as("_w"))
      .localCheckpoint() // n matrix + wins + item universe derive from it
    // symmetric game counts n_ij = w_ij + w_ji
    val n = w.select(col("_i"), col("_j"), col("_w"))
      .unionByName(w.select(col("_j").as("_i"), col("_i").as("_j"),
        lit(0L).as("_w")))
      .groupBy(col("_i"), col("_j"))
      .agg(sum(col("_w")).as("_wij"))
    val games = n.select(col("_i"), col("_j"), col("_wij"))
      .join(n.select(col("_j").as("_i"), col("_i").as("_j"),
        col("_wij").as("_wji")), Seq("_i", "_j"))
      .select(col("_i"), col("_j"),
        (col("_wij") + col("_wji")).as("_n"))
    val wi = n.groupBy(col("_i")).agg(sum(col("_wij")).as("_wi"))
    // collect the bounded matrix and run the MM recursion locally,
    // replaying Spark's round→cast decimal grid call for call; the
    // items² matrix is a catalog universe, never rows
    val wiRows = DriverLocal.collectOrFail(wi, "driverLocal.itemCap",
      1 << 20, "bradleyTerry's item universe")
      .map(r => r.get(0) -> r.getLong(1))
    val gRows = games.collect()
      .map(r => (r.get(0), r.get(1), r.getLong(2)))
    val byI = gRows.groupBy(_._1)
    var p: Map[Any, Double] = wiRows.map(_._1 -> 1.0).toMap
    for (_ <- 1 to iters) {
      val praw = wiRows.map { case (i, w0) =>
        var den = java.math.BigDecimal.ZERO
        byI.getOrElse(i, Array.empty).foreach { case (_, j, nij) =>
          den = den.add(DriverLocal.t12(nij.toDouble / (p(i) + p(j))))
        }
        val d = den.doubleValue
        i -> (if (d == 0.0) 0.0 else w0.toDouble / d)
      }
      var s = java.math.BigDecimal.ZERO
      praw.foreach { case (_, x) => s = s.add(DriverLocal.t12(x)) }
      val sD = s.doubleValue
      p = praw.map { case (i, x) => i -> x / sD }.toMap
    }
    val sp = duels.sparkSession
    val itemType = duels.schema(winnerCol).dataType
    val out = wiRows.map { case (i, w0) =>
      org.apache.spark.sql.Row(i, w0, DriverLocal.r6(p(i)))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("item", itemType),
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p_r",
        org.apache.spark.sql.types.DoubleType)))
    sp.createDataFrame(java.util.Arrays.asList(out: _*), schema)
      .withColumn("rnk", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("p_r").desc, col("item"))))
  }
}
