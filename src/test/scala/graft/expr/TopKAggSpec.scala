package graft.expr

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec,
  ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Parity of the k-slot [[TopKNeighbors]] aggregate against the
  * row_number window form it replaced (r14 ADVICE): identical rank
  * order under (sim DESC, id ASC) INCLUDING ties, NaN sims (Spark's
  * double ordering sorts NaN greatest, so NaN ranks first) and signed
  * zeros (-0.0 == 0.0 in Spark comparisons — the id tiebreak decides).
  */
class TopKAggSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def viaWindow(df: org.apache.spark.sql.DataFrame, k: Int) = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("q_id"), col("rn"), col("neighbor_id"), col("sim"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .toSet
  }

  private def topK(df: org.apache.spark.sql.DataFrame, k: Int) =
    df.groupBy(col("q_id"))
      .agg(TopKNeighbors.topk_neighbors(col("sim"),
        col("neighbor_id"), k).as("_top"))

  private def viaAgg(df: org.apache.spark.sql.DataFrame, k: Int) =
    topK(df, k)
      .select(col("q_id"), posexplode(col("_top")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rn"),
        col("col.neighbor_id"), col("col.sim"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToLongBits(r.getDouble(3))))
      .toSet

  test("topk_neighbors matches the row_number window on ties, NaN " +
      "and signed zeros") {
    val rows = Seq(
      // q 1: plain values with a duplicate sim (tie -> id ASC)
      (1L, 10L, 0.9), (1L, 11L, 0.7), (1L, 12L, 0.7), (1L, 13L, 0.5),
      (1L, 14L, 0.3),
      // q 2: NaN competes with finite sims — NaN must rank FIRST
      (2L, 20L, Double.NaN), (2L, 21L, 0.99), (2L, 22L, 0.5),
      (2L, 23L, Double.NaN), (2L, 24L, 0.8),
      // q 3: ±0.0 are equal — ranking falls to the id tiebreak (the
      // SMALLER id carries -0.0, so an IEEE-compare impl that ranks
      // 0.0 above -0.0 would order these differently)
      (3L, 30L, -0.0), (3L, 31L, 0.0), (3L, 32L, 0.1), (3L, 33L, -0.1),
      // q 4: fewer rows than k
      (4L, 40L, 0.2))
      .toDF("q_id", "neighbor_id", "sim")
    for (k <- Seq(1, 3, 16))
      assert(viaAgg(rows, k) == viaWindow(rows, k), s"k = $k")
  }

  test("topk_neighbors merge path preserves ordering across partial " +
      "buffers (many groups x shuffled input)") {
    val rows = (0 until 2000).map { i =>
      val q = (i % 7).toLong
      val sim = ((i * 2654435761L) % 1000L).toDouble / 1000.0
      (q, i.toLong, if (i % 97 == 0) Double.NaN else sim)
    }.toDF("q_id", "neighbor_id", "sim").repartition(8)
    assert(viaAgg(rows, 5) == viaWindow(rows, 5))
  }

  /** 1 000 queries × 12 neighbors in ONE input partition: the partial
    * aggregate holds 1 000 groups in one task, far past the 128 at which
    * an object-buffer aggregate would fall back to sorting. */
  private lazy val manyGroups = (0 until 12000).map { i =>
    val sim = ((i * 2654435761L) % 997L).toDouble / 997.0
    ((i % 1000).toLong, i.toLong, if (i % 89 == 0) Double.NaN else sim)
  }.toDF("q_id", "neighbor_id", "sim").coalesce(1)

  test("topk_neighbors matches the window with more than 128 groups in " +
      "one task") {
    assert(manyGroups.rdd.getNumPartitions == 1)
    assert(viaAgg(manyGroups, 5) == viaWindow(manyGroups, 5))
  }

  test("topk_neighbors plans a HashAggregate: no object-hash or sort " +
      "aggregate, for a wide buffer too") {
    for (k <- Seq(5, TopKNeighbors.MaxK)) {
      val df = topK(manyGroups, k)
      df.collect()
      val plan = df.queryExecution.executedPlan
      assert(collect(plan) { case a: HashAggregateExec => a }.size == 2,
        s"k = $k: expected partial + final HashAggregate:\n$plan")
      assert(collect(plan) {
        case a: ObjectHashAggregateExec => a
        case a: SortAggregateExec => a
      }.isEmpty, s"k = $k:\n$plan")
    }
  }

  test("k = MaxK (1 024) keeps every neighbor; k = 1 025 is rejected " +
      "with the bound in the message") {
    assert(TopKNeighbors.MaxK == 1024)
    val rows = (0 until 1100).map(i => (1L, i.toLong, (i % 37).toDouble))
      .toDF("q_id", "neighbor_id", "sim")
    assert(viaAgg(rows, 1024) == viaWindow(rows, 1024))
    val e = intercept[IllegalArgumentException] {
      topK(rows, 1025)
    }
    assert(e.getMessage.contains("1024") && e.getMessage.contains("1025"),
      e.getMessage)
  }
}
