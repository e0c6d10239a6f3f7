package graftbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Curation, Dedup, TextOps}

/** corpus_curation: the chain of the flagship query q133 over a generated
  * corpus. Quality gate (TextOps) → exact dedup → MinHash-LSH shingle /
  * band / verify / components (Dedup) → hash split (Curation) → rollup by
  * split and language. The generator plants low-quality docs, exact copies,
  * near-duplicate families of known sizes, and a boilerplate family whose
  * shared template collides on band keys. */
final class CorpusWorkload(scale: String, seed: Long, dir: Path) extends Workload {
  private val spec = scale match {
    case "full" => Gen.CorpusSpec(docs = 3000, exactFrac = 0.1,
      nearFrac = 0.2, junkFrac = 0.05, boilerFrac = 0.08)
    case _ => Gen.CorpusSpec(docs = 200, exactFrac = 0.1,
      nearFrac = 0.1, junkFrac = 0.05, boilerFrac = 0.1)
  }
  import CorpusWorkload._

  private var truth: Gen.CorpusTruth = _
  private[graftbench] var docs: DataFrame = _
  private val recall, precision = scala.collection.mutable.ArrayBuffer.empty[Double]

  def generate(): Unit = truth = Gen.corpus(dir, seed, spec)
  override def minIterations: Int = if (scale == "full") 2 else 1

  def load(spark: SparkSession): Unit = {
    val rows = truth.docs.map(d => org.apache.spark.sql.Row(d.id, d.lang, d.text))
    docs = Layer.materialize(spark.createDataFrame(
      spark.sparkContext.parallelize(rows, Main.Cores * 2), DocSchema))
  }

  def iteration(spark: SparkSession, client: Client, checks: Checks): Unit = {
    // the gate is short, so it runs GateRepeats times for more samples; the
    // last output feeds the near-dup stage
    var gated: Option[DataFrame] = None
    for (_ <- 1 to GateRepeats) {
      gated.foreach(_.unpersist())
      gated = client.op("gate")(Layer.materialize(exactDedup(qualityGate(docs))))
      for (kept <- gated if checks.active)
        checks.guarded("gate output")(checkGate(kept, checks))
    }
    gated.foreach { kept =>
      client.op("neardup") {
        val removed = nearDupRemovals(kept)
        val ids = removed.collect().map(_.getLong(0)).toSet
        val split = rollup(kept.join(removed, Seq("doc_id"), "left_anti"))
          .collect()
        (ids, split)
      }.filter(_ => checks.active).foreach { case (ids, split) =>
        val hit = ids.count(truth.nearDups)
        recall += hit.toDouble / truth.nearDups.size
        precision += (if (ids.isEmpty) 1.0 else hit.toDouble / ids.size)
        checks.guarded("split output")(checkSplit(kept.count() - ids.size,
          split.map(_.getLong(2)).toSeq, checks))
      }
      kept.unpersist()
    }
  }

  /** The gate keeps every doc but the planted low-quality ones and the
    * exact copies (checked by count and id sum). */
  def checkGate(kept: DataFrame, checks: Checks): Unit = {
    val gone = truth.lowQuality ++ truth.exactDropped
    val want = truth.docs.iterator.map(_.id).filterNot(gone).toSeq
    val r = kept.agg(count(lit(1)), sum(col("doc_id"))).head()
    checks("gate keeps the unplanted docs",
      r.getLong(0) == want.size && r.getLong(1) == want.sum,
      s"got ${r.getLong(0)} docs, want ${want.size}")
  }

  /** Docs per second over the whole chain: input docs over the median gate
    * time plus the median near-dup time. */
  def endToEnd(c: Client): Seq[Metric] = {
    val (gate, neardup) =
      (Stats.median(c.samples("gate")), Stats.median(c.samples("neardup")))
    Seq(
      Metric("bulk_items_per_s", spec.docs / (gate + neardup), "1/s"),
      Metric("op_a_s", gate, "s"),
      Metric("op_b_s", neardup, "s"),
      Metric("recall_frac", Stats.median(recall.toSeq), "frac"),
      Metric("precision_frac", Stats.median(precision.toSeq), "frac"))
  }

  def report(c: Client): Seq[String] = {
    val e = endToEnd(c).map(m => m.name -> m.value).toMap
    Seq(
      f"docs_per_s ${e("bulk_items_per_s")}%.1f 1/s (gate n=${c.samples("gate").size}, near-dup n=${c.samples("neardup").size})",
      f"neardup_recall ${e("recall_frac")}%.4f frac",
      f"neardup_precision ${e("precision_frac")}%.4f frac")
  }

  def layers(spark: SparkSession, t: Tracer, checks: Checks): Seq[Metric] = {
    import Layer.{materialize, noop}
    t.span("textops.quality")(noop(qualityGate(docs)))
    val gated = materialize(qualityGate(docs))
    t.span("dedup.exact")(noop(exactDedup(gated)))
    val kept = materialize(exactDedup(gated))
    checkGate(kept, checks)
    t.span("dedup.shingle")(noop(Dedup.shingleTable(kept, "doc_id", "text")))
    val sh = materialize(Dedup.shingleTable(kept, "doc_id", "text"))
    t.span("dedup.minhash")(noop(Dedup.minhashFromShingles(sh, "doc_id")))
    val sig = materialize(Dedup.minhashFromShingles(sh, "doc_id"))
    t.span("dedup.band")(noop(candidates(Dedup.bandTable(sig, "doc_id"))))
    val bands = materialize(Dedup.bandTable(sig, "doc_id"))
    val cand = materialize(candidates(bands))
    val dropped = bands
      .withColumn("n", count(lit(1)).over(Window.partitionBy("band", "bk")))
      .filter(col("n") > ProbeBucket).agg(countDistinct(col("doc_id"))).head()
      .getLong(0)
    t.span("dedup.verify")(noop(verify(sh, cand)))
    val verified = materialize(verify(sh, cand))
    val (nCand, nVer) = (cand.count(), verified.count())
    t.span("dedup.components")(noop(
      Dedup.nearDupComponents(verified, knownPairCount = Some(nVer))))
    val removed = materialize(
      Dedup.nearDupComponents(verified, knownPairCount = Some(nVer))
        .filter(col("label") < col("node")).select(col("node").as("doc_id")))
    val curated = materialize(kept.join(removed, Seq("doc_id"), "left_anti"))
    t.span("curation.split")(noop(rollup(curated)))
    checkSplit(curated.count(), rollup(curated).collect().map(_.getLong(2)).toSeq,
      checks)
    val nShingles = sh.count()
    Seq(gated, kept, sh, sig, bands, cand, verified, removed, curated)
      .foreach(_.unpersist())
    val self = t.selfSeconds
    def s(n: String) = self.getOrElse(n, 0.0)
    Seq(
      Metric("textops.quality_s", s("textops.quality"), "s"),
      Metric("dedup.exact_s", s("dedup.exact"), "s"),
      Metric("dedup.shingle_s", s("dedup.shingle"), "s"),
      Metric("dedup.shingles", nShingles, "count"),
      Metric("dedup.minhash_s", s("dedup.minhash"), "s"),
      Metric("dedup.band_s", s("dedup.band"), "s"),
      Metric("dedup.candidate_pairs", nCand, "count"),
      Metric("dedup.verify_s", s("dedup.verify"), "s"),
      Metric("dedup.verified_pairs", nVer, "count"),
      Metric("dedup.candidate_yield",
        if (nCand == 0) 0.0 else nVer.toDouble / nCand, "frac"),
      Metric("dedup.valve_dropped_docs", dropped.toDouble, "count"),
      Metric("dedup.components_s", s("dedup.components"), "s"),
      Metric("curation.split_s", s("curation.split"), "s"))
  }
}

object CorpusWorkload {
  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("lang", StringType),
    StructField("text", StringType)))

  /** Quality gate: TextOps' quality score plus a minimum length. */
  val MinQuality = 0.45
  val MinChars = 100
  /** Gate operations per iteration. */
  val GateRepeats = 2
  /** Jaccard threshold of a near duplicate, as in q133. */
  val Threshold = 0.5
  /** Bucket limit of the `dedup.valve_dropped_docs` probe: the docs in
    * (band, band key) buckets larger than this are the ones `bandJoin`
    * would drop at this limit. The engine's own limit (`Dedup.MaxBucket`,
    * 100 000), which the timed chain uses, cannot fire at 3 000 docs; at
    * 40 the planted boilerplate family's hot band keys cross it. */
  val ProbeBucket = 40L

  def qualityGate(docs: DataFrame): DataFrame =
    TextOps.qualityScore(docs, "text")
      .filter(col("quality") >= MinQuality && col("n_chars_obs") >= MinChars)
      .select(col("doc_id"), col("lang"), col("text"),
        col("n_chars_obs").as("n_chars"))

  /** Keeps the lowest id of every distinct text. */
  def exactDedup(df: DataFrame): DataFrame =
    df.join(Dedup.exactDupGroups(df, "doc_id", "text")
      .select(col("keeper_id").as("doc_id")), Seq("doc_id"), "left_semi")

  /** The candidate join of `Dedup`'s near-dup trunk, at the engine's
    * bucket limit. */
  def candidates(bands: DataFrame): DataFrame =
    Dedup.bandJoin(bands, "doc_id", "doc_a", "doc_b")

  /** The verify step of the trunk: Jaccard over the candidates' shingle
    * sets, kept at the threshold. */
  def verify(sh: DataFrame, cand: DataFrame): DataFrame =
    Dedup.jaccardOnSets(Dedup.docShingleSets(
      Dedup.candidateShingles(sh, cand, "doc_id"), "doc_id"), cand, "doc_id")
      .filter(col("jaccard") >= Threshold).select("doc_a", "doc_b")

  /** Ids the near-dup stage removes, by the engine's trunk
    * (`Dedup.nearDupRemovals`: shingle, MinHash, band, verify,
    * components; every member of a component but its lowest id),
    * materialized as a checkpoint. */
  def nearDupRemovals(kept: DataFrame): DataFrame =
    Dedup.nearDupRemovals(kept, "doc_id", "text", Threshold).localCheckpoint()

  /** Hash split, then docs and characters per (split, lang). */
  def rollup(curated: DataFrame): DataFrame =
    Curation.hashSplit(curated, "doc_id")
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy("split", "lang")

  /** The split counts add up to the docs that survived the chain. */
  def checkSplit(survivors: Long, splitCounts: Seq[Long], checks: Checks): Unit =
    checks("split counts add up to the survivors",
      splitCounts.sum == survivors && splitCounts.forall(_ > 0),
      s"splits sum to ${splitCounts.sum}, survivors $survivors")
}
