package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.Similarity

/** vector_search: an IVF index built from a few `centroidUpdate` steps plus
  * `assignCells` (the write side), then one query batch answered exactly
  * with `cosineTopK` and approximately with `ivfTopK` at a fixed `nprobe`
  * (the read side). The exact answers are the ground truth for recall. */
final class VectorWorkload(scale: String, seed: Long, dir: Path) extends Workload {
  private val (spec, nList) = scale match {
    case "full" => (Gen.VectorSpec(vectors = 12000, dim = 64, clusters = 40,
      queries = 100, noise = 0.06), 32)
    case _ => (Gen.VectorSpec(vectors = 1000, dim = 16, clusters = 8,
      queries = 10, noise = 0.06), 8)
  }
  import VectorWorkload._

  private var data: Gen.Vectors = _
  private[graftbench] var coll, queries: DataFrame = _
  private val recall, precision = scala.collection.mutable.ArrayBuffer.empty[Double]

  def generate(): Unit = data = Gen.vectors(dir, seed, spec)
  override def minIterations: Int = if (scale == "full") 4 else 1

  def load(spark: SparkSession): Unit = {
    def frame(ids: Array[Long], vs: Array[Array[Float]]) =
      Layer.materialize(spark.createDataFrame(spark.sparkContext.parallelize(
        ids.indices.map(i => Row(ids(i), vs(i).toSeq)), Main.Cores * 2),
        VecSchema))
    coll = frame(data.ids, data.vecs)
    queries = frame(data.queryIds, data.queries)
  }

  /** Initial centroids: every (n / nList)-th vector. */
  private def seedCentroids(spark: SparkSession): DataFrame = {
    val step = spec.vectors / nList
    val rows = (0 until nList).map(c =>
      Row(c.toLong, data.vecs(c * step).toSeq))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), VecSchema)
  }

  /** k-means refinement: each step's long-form cell means, pivoted back to
    * one centroid vector per cell. */
  private def kmeansStep(spark: SparkSession, cents: DataFrame): DataFrame = {
    val rows = Similarity.centroidUpdate(coll, cents).collect()
      .groupBy(_.getAs[Long]("cid")).toSeq.sortBy(_._1).map { case (cid, rs) =>
        Row(cid, rs.sortBy(_.getAs[Int]("dim"))
          .map(_.getAs[Double]("c").toFloat).toSeq)
      }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), VecSchema)
      .cache()
  }

  private def buildIndex(spark: SparkSession): (DataFrame, DataFrame) = {
    var cents = seedCentroids(spark)
    for (_ <- 1 to KmeansSteps) cents = kmeansStep(spark, cents)
    (cents, Layer.materialize(Similarity.assignCells(coll, cents)))
  }

  def iteration(spark: SparkSession, client: Client, checks: Checks): Unit = {
    val index = client.op("index_build")(buildIndex(spark))
    val exact = client.op("exact")(
      neighbours(Similarity.cosineTopK(coll, queries, K).collect()))
    if (checks.active) exact.foreach(checkExact(_, checks))
    for ((cents, assigned) <- index) {
      client.op("ivf")(neighbours(
        Similarity.ivfTopK(coll, cents, queries, K, NProbe).collect()))
        .foreach { ivf =>
          for (ex <- exact if checks.active) {
            val hits = ex.map { case (q, ns) =>
              ivf.getOrElse(q, Nil).toSet.intersect(ns.toSet).size }.sum
            recall += hits.toDouble / (K * spec.queries)
            precision += hits.toDouble / ivf.valuesIterator.map(_.size).sum
          }
        }
      assigned.unpersist()
      cents.unpersist()
    }
  }

  /** Query id → neighbour ids in rank order. */
  def neighbours(rows: Array[Row]): Map[Long, Seq[Long]] =
    rows.groupBy(_.getAs[Long]("q_id")).view.mapValues(
      _.sortBy(_.getAs[Int]("rn")).map(_.getAs[Long]("neighbor_id")).toSeq)
      .toMap

  /** `cosineTopK` must answer every query with k neighbours, and match a
    * plain-Scala brute force on a sample of queries. Ranks may differ only
    * between neighbours whose similarities tie within 1e-9. */
  private lazy val reference: Seq[(Int, Seq[(Long, Double)])] =
    (0 until math.min(CheckedQueries, spec.queries)).map { qi =>
      val sims = data.vecs.indices.map(i =>
        data.ids(i) -> cosine(data.queries(qi), data.vecs(i)))
      qi -> sims.sortBy { case (id, s) => (-s, id) }.take(K)
    }

  def checkExact(exact: Map[Long, Seq[Long]], checks: Checks): Unit = {
    checks("cosineTopK answers every query with k neighbours",
      exact.size == spec.queries && exact.valuesIterator.forall(_.size == K),
      s"${exact.size} queries answered")
    // collection ids are the vector indices
    val agree = reference.forall { case (qi, want) =>
      val got = exact.getOrElse(data.queryIds(qi), Nil)
      got.distinct.size == want.size && got.zip(want).forall {
        case (g, (w, ws)) => g == w || (g >= 0 && g < spec.vectors &&
          math.abs(cosine(data.queries(qi), data.vecs(g.toInt)) - ws) < 1e-9)
      }
    }
    checks("cosineTopK matches brute force", agree)
  }

  def endToEnd(c: Client): Seq[Metric] = Seq(
    Metric("bulk_items_per_s",
      Stats.median(c.samples("index_build").map(spec.vectors / _)), "1/s"),
    Metric("op_a_s", Stats.median(c.samples("exact")), "s"),
    Metric("op_b_s", Stats.median(c.samples("ivf")), "s"),
    Metric("recall_frac", Stats.median(recall.toSeq), "frac"),
    Metric("precision_frac", Stats.median(precision.toSeq), "frac"))

  def report(c: Client): Seq[String] = {
    val q = spec.queries.toDouble
    Seq(
      f"index_build_s ${Stats.median(c.samples("index_build"))}%.4f s (n=${c.samples("index_build").size})",
      f"exact_qps ${Stats.median(c.samples("exact").map(q / _))}%.1f 1/s (n=${c.samples("exact").size})",
      f"ivf_qps ${Stats.median(c.samples("ivf").map(q / _))}%.1f 1/s (n=${c.samples("ivf").size})",
      f"ivf_recall_at_10 ${Stats.median(recall.toSeq)}%.4f frac")
  }

  def layers(spark: SparkSession, t: Tracer, checks: Checks): Seq[Metric] = {
    import Layer.{noop, noopPlan, outputRows}
    var cents = seedCentroids(spark).cache()
    for (_ <- 1 to KmeansSteps) {
      val prev = cents
      cents = t.span("similarity.kmeans_step")(kmeansStep(spark, prev))
      cents.count()
    }
    t.span("similarity.assign")(noop(Similarity.assignCells(coll, cents)))
    val cells = Similarity.assignCells(coll, cents).groupBy("cid").count()
      .collect().map(_.getLong(1))
    val exactPlan = t.span("similarity.exact_topk")(
      noopPlan(Similarity.cosineTopK(coll, queries, K)))
    val ivfPlan = t.span("similarity.ivf_topk")(
      noopPlan(Similarity.ivfTopK(coll, cents, queries, K, NProbe)))
    val all = spec.vectors.toDouble * spec.queries
    val self = t.selfSeconds
    def s(n: String) = self.getOrElse(n, 0.0)
    Seq(
      Metric("similarity.kmeans_step_s",
        Stats.median(t.durations("similarity.kmeans_step")), "s"),
      Metric("similarity.assign_s", s("similarity.assign"), "s"),
      Metric("similarity.exact_topk_s", s("similarity.exact_topk"), "s"),
      Metric("similarity.exact_sims", outputRows(exactPlan, isPairJoin).toDouble,
        "count"),
      Metric("similarity.ivf_topk_s", s("similarity.ivf_topk"), "s"),
      Metric("similarity.ivf_scored_frac",
        outputRows(ivfPlan, isCellJoin) / all, "frac"),
      Metric("similarity.cell_skew", cells.max / (cells.sum.toDouble / cells.length),
        "ratio"))
  }
}

object VectorWorkload {
  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false))))
  val K = 10
  val KmeansSteps = 2
  val NProbe = 4
  val CheckedQueries = 16

  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    for (i <- a.indices) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
    }
    dot / math.sqrt(na * nb)
  }

  /** The brute-force join that pairs every query with every vector. */
  def isPairJoin(p: SparkPlan): Boolean = p.isInstanceOf[BroadcastNestedLoopJoinExec]

  /** The equi-join that pairs each query with the vectors of its probed
    * cells. */
  def isCellJoin(p: SparkPlan): Boolean = p match {
    case _: BroadcastHashJoinExec | _: ShuffledHashJoinExec |
         _: SortMergeJoinExec => true
    case _ => false
  }
}
