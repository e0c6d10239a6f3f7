package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.util.Tables

class SimilaritySpec extends SparkTestBase {

  private lazy val emb = Tables.embeddings(spark, sf())

  test("brute-force topk: k rows per query, self excluded, sims descending") {
    val queries = emb.filter(col("vec_id") < 3)
    val got = Similarity.cosineTopK(emb, queries, 5).collect()
    assert(got.length == 15)
    got.groupBy(_.getAs[Long]("q_id")).foreach { case (qid, rows) =>
      assert(rows.map(_.getAs[Int]("rn")).sorted.toSeq == (1 to 5))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == qid))
      val sims = rows.sortBy(_.getAs[Int]("rn")).map(_.getAs[Double]("sim_r"))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("top-k runs in the caller's session: no re-bind, conf raise or " +
      "temp view") {
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val before = spark.conf.getOption(key)
    val queries = emb.filter(col("vec_id") < 3)
    val out = Similarity.cosineTopK(emb, queries, 5)
    assert(out.sparkSession eq spark)
    assert(out.count() == 15)
    assert(spark.conf.getOption(key) == before)
    // listTables("global_temp") lists local temp views too
    assert(!spark.catalog.listTables("global_temp").collect()
      .exists(_.database == "global_temp"))
  }

  test("broadcast valve: an oversized query side fails fast with the " +
      "config name; routedTopK routes it to the IVF path instead") {
    val key = "spark.graft.similarity.broadcastMaxQueries"
    val queries = emb.filter(col("vec_id") < 3) // 3 query rows
    try {
      spark.conf.set(key, "2")
      val e = intercept[IllegalArgumentException] {
        Similarity.cosineTopK(emb, queries, 5)
      }
      assert(e.getMessage.contains(key), e.getMessage)
      // routedTopK under the same tiny valve switches to IVF (same
      // schema); with nprobe = all cells IVF is exhaustive, so the
      // routed result must equal brute force at the default valve
      val centroids = emb.filter(col("vec_id") % 50 === 0)
      val nCells = centroids.count().toInt
      val routed = Similarity.routedTopK(emb, centroids, queries, 5, nCells)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      spark.conf.unset(key)
      val brute = Similarity.cosineTopK(emb, queries, 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(routed == brute)
      // under the default valve the router stays on the exact path
      val exactPath = Similarity.routedTopK(emb, centroids, queries, 5, 1)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      assert(exactPath == brute,
        "small query side must take the brute-force path (nprobe ignored)")
    } finally spark.conf.unset(key)
  }

  test("IVF recall: nprobe=all cells reproduces brute force exactly") {
    val centroids = emb.filter(col("vec_id") % 50 === 0)
    val nCells = centroids.count().toInt
    val queries = emb.filter(col("vec_id") < 3)
    val brute = Similarity.cosineTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val ivfAll = Similarity.ivfTopK(emb, centroids, queries, 5, nCells)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(ivfAll == brute)
  }

  test("IVF with nprobe=2 achieves reasonable recall vs brute force") {
    val centroids = emb.filter(col("vec_id") % 50 === 0)
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.cosineTopK(emb, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Similarity.ivfTopK(emb, centroids, queries, 5, 2)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall >= 0.2, s"recall $recall") // random vectors: cells are weak
  }

  test("assignCells: the literal-argmax path matches the exploded " +
      "window path (ties, zero norms) and the valve routes over-cap " +
      "centroid sets to the fallback") {
    import spark.implicits._
    val cents = Seq(
      (5L, Array(1f, 0f)), (3L, Array(1f, 0f)),   // duplicate direction:
                                                  // sim tie -> cid 3
      (7L, Array(0f, 1f))
    ).toDF("vec_id", "embedding")
    val coll = Seq(
      (10L, Array(2f, 0f)),    // ties cids 3 and 5 at sim 1 -> 3
      (11L, Array(0f, 3f)),    // cell 7
      (12L, Array(1f, 1f)),    // equidistant 3/5 vs 7: 3 wins tiebreak
      (13L, Array(0f, 0f))     // zero norm: no defined cosine, dropped
    ).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cid").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = Similarity.assignCells(coll, cents)
    // the fast path must not plan a window (that is the point)
    assert(!fast.queryExecution.executedPlan.toString.contains("Window"),
      "literal path still plans a window")
    val got = rows(fast)
    assert(got == Set((10L, 3L), (11L, 7L), (12L, 3L)), got.toString)
    assert(rows(Similarity.assignCellsExploded(coll, cents)) == got)
    // valve: cap below the centroid count -> the exploded fallback
    val key = "spark.graft.similarity.maxLiteralCentroids"
    spark.conf.set(key, "2")
    try {
      val slow = Similarity.assignCells(coll, cents)
      assert(slow.queryExecution.executedPlan.toString.contains("Window"),
        "over-cap centroid set did not fall back to the window path")
      assert(rows(slow) == got)
    } finally spark.conf.unset(key)
  }

  test("centroidUpdate: per-cell dimension means over the assignment") {
    import spark.implicits._
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val coll = Seq(
      (10L, Array(1f, 0.1f)), (11L, Array(1f, 0.3f)),  // cell 0
      (12L, Array(0.1f, 1f))                           // cell 1
    ).toDF("vec_id", "embedding")
    val got = Similarity.centroidUpdate(coll, cents).collect()
      .map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(got((0L, 0)) == ((2L, 1.0)))
    assert(got((0L, 1))._2 == 0.2) // (0.1f + 0.3f) / 2, float-exact
    assert(got((1L, 0)) == ((1L, BigDecimal(0.1f.toDouble)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got((1L, 1)) == ((1L, 1.0)))
  }

  test("labelCohesion: singleton label -> null mean; zero-norm dropped") {
    import spark.implicits._
    val df = Seq(
      (1, Array(1f, 0f)), (1, Array(1f, 0f)),       // identical pair
      (2, Array(0f, 1f)),                           // singleton label
      (3, Array(0f, 0f)), (3, Array(1f, 1f))        // zero-norm + one real
    ).toDF("label", "embedding")
    val got = Similarity.labelCohesion(df, "label", "embedding", 2)
      .collect().map(r => r.getInt(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    assert(got(1) == ((1L, Some(1.0))), "identical vectors: mean cos 1.0")
    assert(got(2) == ((0L, None)), "singleton: no pairs, null mean")
    assert(got(3) == ((0L, None)),
      "zero-norm vector dropped -> label 3 degenerates to a singleton")
  }

  test("semanticNearDupPairs: within-cell near-dups found; a cross-cell " +
      "high-cosine pair is NOT reported (the documented SemDeDup trade)") {
    import spark.implicits._
    val cents = Seq((0L, Array(1f, 0f)), (1L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val coll = Seq(
      (10L, Array(1f, 0.01f)),  // cell 0
      (11L, Array(1f, 0.02f)),  // cell 0, near-dup of 10
      (20L, Array(0.01f, 1f)),  // cell 1
      (30L, Array(1f, 0.9f)),   // cell 0 (boundary)
      (31L, Array(0.9f, 1f)))   // cell 1 (boundary); cos(30,31) ≈ 0.994
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticNearDupPairs(coll, cents, 0.9)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((10L, 11L)),
      s"expected only the within-cell pair, got $got")
  }

  test("randomProject matches the Scala sign-matrix model exactly and " +
      "roughly preserves pairwise cosine (JL property, real embeddings)") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf()).filter(col("vec_id") < 30)
    val got = Similarity.randomProject(emb, "vec_id", "embedding", 64, 16)
      .collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).toArray).toMap
    val raw = emb.select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    // bit-exact vs the left-fold Scala model over the same sign matrix
    raw.foreach { case (id, v) =>
      val want = (0 until 16).map { j =>
        var acc = 0.0
        (0 until 64).foreach(i =>
          acc += v(i).toDouble * EmbeddingLsh.sign(j, i))
        acc / 4.0
      }
      assert(got(id).toSeq == want, s"vec $id projection mismatch")
    }
    // JL sanity: mean |cos distortion| over all pairs is modest at 16 dims
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map { case (x, y) => x * y }.sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val ids = raw.keys.toSeq.sorted
    val errs = for (i <- ids; k <- ids if i < k) yield {
      val co = cos(raw(i).map(_.toDouble), raw(k).map(_.toDouble))
      math.abs(co - cos(got(i), got(k)))
    }
    val mean = errs.sum / errs.size
    assert(mean < 0.25, s"mean cosine distortion $mean too large for JL")
  }

  test("semanticNearDupPairs: pair output is oriented vec_a < vec_b and " +
      "carries the cell id") {
    import spark.implicits._
    val cents = Seq((0L, Array(1f, 0f))).toDF("vec_id", "embedding")
    val coll = Seq((5L, Array(1f, 0f)), (3L, Array(1f, 0f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.semanticNearDupPairs(coll, cents, 0.99).collect()
    assert(rows.length == 1)
    assert(rows.head.getLong(0) == 0L)   // cid
    assert(rows.head.getLong(1) == 3L && rows.head.getLong(2) == 5L)
    assert(rows.head.getDouble(3) == 1.0)
  }

  test("truncationFidelity: a tier covering all nonzero dims is exact " +
      "(diff 0, corr 1); a lossy tier reports positive divergence") {
    import spark.implicits._
    // energy only in dims 1-4; dims 5-8 are zero padding
    val emb = (0L until 40L).map { i =>
      (i, Array[Float](i.toFloat + 1, (i % 5).toFloat, (i % 3).toFloat,
        1f, 0f, 0f, 0f, 0f))
    }.toDF("vec_id", "embedding")
    val got = Similarity.truncationFidelity(emb, "vec_id", "embedding",
        dims = Seq(2, 4), offsets = Seq(1L, 7L))
      .orderBy("d").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val d4 = got.find(_._1 == 4).get
    assert(d4._3 == 0.0 && d4._4 == 1.0, d4.toString)
    val d2 = got.find(_._1 == 2).get
    assert(d2._3 > 0.0, d2.toString)
    assert(d4._2 == 39L + 33L, "pair sample size: offsets 1 and 7")
  }

  test("labelCentroidCosine: orthogonal / identical / diagonal centroids") {
    import spark.implicits._
    // label 0 centroid (1,0); label 1 centroid (0,1); label 2 = two
    // vectors averaging to (0.5, 0.5) — cos(0,1)=0, cos(0,2)=cos(1,2)
    // = 1/√2
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.0f, 1.0f), 1),
      (3L, Seq(1.0f, 0.0f), 2),
      (4L, Seq(0.0f, 1.0f), 2))
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidCosine(emb, "label", "embedding")
      .collect().map(r => (r.getInt(0), r.getInt(1)) ->
        r.getAs[Double]("cos_r")).toMap
    assert(got.size == 3)
    assert(got((0, 1)) == 0.0)
    assert(got((0, 2)) == 0.707107)
    assert(got((1, 2)) == 0.707107)
  }

  test("labelOutliers: a planted mislabel is the ONLY z < -2 flag; " +
      "clean members stay positive") {
    import spark.implicits._
    // 11 vectors at (1,0) + one mislabeled (0,1) in label 0; a clean
    // label 1 cluster must produce no flags (sd≈0 → null z, not noise)
    val emb = ((1L to 11L).map(i => (i, Seq(1.0f, 0.0f), 0)) :+
      (99L, Seq(0.0f, 1.0f), 0)) ++
      (201L to 205L).map(i => (i, Seq(0.0f, 1.0f), 1))
    val got = Similarity.labelOutliers(emb.toDF("vec_id", "embedding",
        "label"), "vec_id", "label", "embedding", zCut = -2.0)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Double]("cos_r"), r.getAs[Boolean]("is_outlier"))).toMap
    val flagged = got.filter(_._2._2).keySet
    assert(flagged == Set(99L), s"flags: $flagged")
    assert(got(99L)._1 < got(1L)._1, "outlier is farther from centroid")
    assert((201L to 205L).forall(i => !got(i)._2),
      "constant cluster (sd = 0) produces null z, never a flag")
  }

  test("labelCentroidCosine: zero centroid yields null, not NaN") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0f, 1.0f), 0),
      (2L, Seq(1.0f, -1.0f), 1),
      (3L, Seq(-1.0f, 1.0f), 1)) // label-1 centroid = (0,0)
      .toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroidCosine(emb, "label", "embedding")
      .collect()
    assert(got.length == 1)
    assert(got.head.isNullAt(got.head.fieldIndex("cos_r")))
  }

  test("simplifiedSilhouette: hand sims on axis-aligned centroids") {
    import spark.implicits._
    val cents = Seq((10L, Seq(1.0f, 0.0f)), (20L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // p1 sits ON centroid 10: s1=1, s2=0 → sil = 1
    // p2=(0.6,0.8): s1=0.8 (cell 20), s2=0.6 → sil = 0.2/0.4 = 0.5
    val pts = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.simplifiedSilhouette(pts, cents)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n"), r.getAs[Double]("mean_sil_r"))).toMap
    assert(got(10L) == (1L, 1.0))
    assert(got(20L) == (1L, 0.5))
  }

  test("daviesBouldin: symmetric two-cell layout") {
    import spark.implicits._
    val cents = Seq((10L, Seq(1.0f, 0.0f)), (20L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // cells get one on-centroid point (d=0) and one at cosine 0.8
    // (d=0.2): S₁=S₂=0.1; M₁₂=1 → R₁=R₂=0.2 → DB=0.2
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.8f, 0.6f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.6f, 0.8f)))
      .toDF("vec_id", "embedding")
    val rows = Similarity.daviesBouldin(pts, cents).collect()
    assert(rows.length == 2)
    for (r <- rows) {
      assert(r.getAs[Long]("n") == 2)
      assert(math.abs(r.getAs[Double]("scatter_r") - 0.1) < 1e-9)
      assert(math.abs(r.getAs[Double]("r_max_r") - 0.2) < 1e-9)
      assert(math.abs(r.getAs[Double]("db_r") - 0.2) < 1e-9)
    }
  }

  test("daviesBouldin: degenerate centroid sets surface as NULL") {
    import spark.implicits._
    val pts = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.8f, 0.6f)))
      .toDF("vec_id", "embedding")
    // duplicate-direction centroids: separation M = 0 → the worst
    // ratio is +inf, reported as NULL (not silently dropped, which
    // would understate R_i); the global index follows
    val dup = Seq((10L, Seq(1.0f, 0.0f)), (20L, Seq(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val d = Similarity.daviesBouldin(pts, dup).collect()
    assert(d.nonEmpty)
    for (r <- d) {
      assert(r.isNullAt(r.fieldIndex("r_max_r")))
      assert(r.isNullAt(r.fieldIndex("db_r")))
    }
    // a single centroid has NO separation set: the cell row must
    // still appear (left join), with NULL ratio and index
    val one = Seq((10L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val s = Similarity.daviesBouldin(pts, one).collect()
    assert(s.length == 1)
    assert(s.head.getAs[Long]("n") == 2)
    assert(s.head.isNullAt(s.head.fieldIndex("r_max_r")))
    assert(s.head.isNullAt(s.head.fieldIndex("db_r")))
  }

  test("isotropyAudit: orthogonal → 0, collinear → 1, zero-norm " +
      "excluded") {
    import spark.implicits._
    val ortho = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)),
      (3L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val o = Similarity.isotropyAudit(ortho).collect().head
    assert(o.getAs[Long]("n") == 2) // zero vector dropped
    assert(o.getAs[Double]("mean_pair_cos_r") == 0.0)
    val coll = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val c = Similarity.isotropyAudit(coll).collect().head
    assert(c.getAs[Double]("mean_pair_cos_r") == 1.0)
    assert(c.getAs[Double]("sum_sq_r") == 4.0)
  }

  test("participationRatio: isotropic pair → d, collinear pair → 1") {
    import spark.implicits._
    val iso = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val i = Similarity.participationRatio(iso).collect().head
    assert(i.getAs[Long]("d") == 2)
    assert(i.getAs[Double]("trace_r") == 2.0)
    assert(i.getAs[Double]("fro2_r") == 2.0)
    assert(i.getAs[Double]("pr_r") == 2.0)
    val one = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val c = Similarity.participationRatio(one).collect().head
    assert(c.getAs[Double]("pr_r") == 1.0)
  }

  test("mmrRerank: diversity beats the near-duplicate at lambda 0.4; " +
      "ties break by id; maxsim tracks the running selection") {
    import spark.implicits._
    val r2 = (math.sqrt(2) / 2).toFloat
    val df = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), // the query vector
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f, 0f)), // exact duplicate of 1
      (3L, Array(r2, r2, 0f, 0f))) // diverse, rel = sqrt(2)/2
      .toDF("vec_id", "embedding")
    val got = Similarity.mmrRerank(df, 0L, poolK = 3, selectK = 3,
      lam = 0.4).orderBy("step").collect()
    // step 1: rel tie between 1 and 2 -> id 1; step 2: the duplicate's
    // mmr is 0.4 - 0.6 = -0.2 but the diverse vector's is
    // (0.4 - 0.6) * 0.7071 = -0.1414 -> id 3; step 3: id 2 last
    assert(got.map(_.getAs[Long]("vec_id")).toSeq == Seq(1L, 3L, 2L))
    assert(got(0).getAs[Double]("rel_r") == 1.0)
    assert(got(0).getAs[Double]("maxsim_r") == 0.0)
    assert(math.abs(got(1).getAs[Double]("mmr_r")
      - (0.4 * r2 - 0.6 * r2)) < 1e-6)
    assert(got(2).getAs[Double]("maxsim_r") == 1.0)
    assert(math.abs(got(2).getAs[Double]("mmr_r") - (-0.2)) < 1e-9)
  }

  test("topEigen: hand 2-D second-moment matrix -> dominant axis and " +
      "Rayleigh eigenvalue; d rows out") {
    import spark.implicits._
    // vectors (1,0), (1,0), (0,1): M = [[2,0],[0,1]] -> top eigenpair
    // (lambda=2, v=e0); 8 iterations from (1/sqrt2, 1/sqrt2) leave a
    // ~2^-8 residual on the weak axis
    val emb = Seq(Array(1f, 0f), Array(1f, 0f), Array(0f, 1f))
      .toDF("embedding")
    val got = Similarity.topEigen(emb, 8).collect()
      .sortBy(_.getAs[Int]("j"))
    assert(got.length == 2)
    assert(got(0).getAs[Double]("loading_r") > 0.999)
    assert(math.abs(got(1).getAs[Double]("loading_r")) < 0.01)
    val lam = got(0).getAs[Double]("lambda_r")
    assert(lam > 1.99 && lam <= 2.0, s"lambda $lam")
    assert(got(1).getAs[Double]("lambda_r") == lam)
  }

  test("hubnessAudit: hand k-occurrence counts -> exact moments, hubs " +
      "and anti-hubs") {
    import spark.implicits._
    val ids = Seq(1L, 2L, 3L, 4L).toDF("vec_id")
    // vector 1 is in everyone's top-k; 3 and 4 are never retrieved
    val nbrs = Seq((2L, 1L), (3L, 1L), (4L, 1L), (1L, 2L))
      .toDF("q_id", "neighbor_id")
    val r = Similarity.hubnessAudit(ids, nbrs, hubAt = 3L)
      .collect().head
    assert(r.getAs[Long]("n") == 4)
    assert(r.getAs[Double]("mean_nk_r") == 1.0)
    // nk = (3,1,0,0): m1=1, m2=2.5, m3=7, var=1.5,
    // g1 = (7 - 7.5 + 2)/1.5^1.5 = 0.816497
    assert(r.getAs[Double]("skew_r") == 0.816497, r.toString)
    assert(r.getAs[Long]("max_nk") == 3)
    assert(r.getAs[Long]("n_hubs") == 1)
    assert(r.getAs[Long]("n_antihubs") == 2)
  }

  test("hardNegatives: nearest wrong-label vector wins; same-label " +
      "pairs never appear; ties break by neighbor id") {
    import spark.implicits._
    // label 0: e1-ish vectors; label 1: e2-ish; anchor 0's nearest
    // wrong-label is vec 2 (cos ~0.196) over vec 3 (orthogonal)
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.2f, 1.0f), 1),
      (3L, Array(0.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.hardNegatives(emb, 2)
      .orderBy("q_id", "rn").collect()
    assert(got.length == 8) // 4 anchors x k=2 (2 wrong-label each)
    val a0 = got.filter(_.getAs[Long]("q_id") == 0L)
    assert(a0.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(2L, 3L))
    assert(a0.forall(_.getAs[Int]("n_label") == 1))
    // no same-label pair anywhere
    assert(got.forall(r =>
      r.getAs[Int]("q_label") != r.getAs[Int]("n_label")))
  }

  test("mahalanobisDiag: planted outlier tops the rank; ties break " +
      "by vec_id; zero-variance dimension contributes nothing") {
    import spark.implicits._
    // dim 0: values 0/0/0/10 -> vec 3 is the outlier
    // dim 1: constant (zero variance) -> must contribute 0, not NaN
    val emb = Seq(
      (0L, Array(0.0f, 5.0f)),
      (1L, Array(0.0f, 5.0f)),
      (2L, Array(0.0f, 5.0f)),
      (3L, Array(10.0f, 5.0f))).toDF("vec_id", "embedding")
    val got = Similarity.mahalanobisDiag(emb, 4).collect()
    assert(got.length == 4)
    assert(got.head.getAs[Long]("vec_id") == 3L)
    // z for vec 3 on dim 0: (10 - 2.5) / sqrt(18.75) -> z^2 = 3
    assert(got.head.getAs[Double]("score_r") == 3.0, got.head.toString)
    // the three identical vectors tie at z^2 = 1/3 each, rank by id
    assert(got.map(_.getAs[Long]("vec_id")).toSeq == Seq(3L, 0L, 1L, 2L))
    assert(got(1).getAs[Double]("score_r") == 0.333333)
  }

  test("tripletMining: positive is nearest same-label, negative is " +
      "nearest wrong-label, margin subtracts the rounded sims") {
    import spark.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f), 0),
      (2L, Array(0.2f, 1.0f), 1),
      (3L, Array(0.0f, 1.0f), 1)).toDF("vec_id", "embedding", "label")
    val got = Similarity.tripletMining(emb).orderBy("anchor_id")
      .collect()
    assert(got.length == 4)
    val a0 = got.head
    assert(a0.getAs[Long]("pos_id") == 1L) // same-label nearest
    assert(a0.getAs[Long]("neg_id") == 2L) // wrong-label nearest
    assert(math.abs(a0.getAs[Double]("margin_r") -
      (a0.getAs[Double]("sim_pos_r") - a0.getAs[Double]("sim_neg_r")))
      < 1e-9)
    // margins here are all positive (clusters are separated)
    assert(got.forall(_.getAs[Double]("margin_r") > 0))
  }

  test("knnReciprocity: hand graph — mutual pairs counted once per " +
      "direction") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (1L, 3L))
      .toDF("q_id", "neighbor_id")
    val r = Similarity.knnReciprocity(edges).collect()(0)
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Long]("n_mutual") == 2L)
    assert(math.abs(r.getAs[Double]("reciprocity_r") - 2.0 / 3) < 1e-6)
  }

  test("lidMle: hand distances match the closed-form MLE; zero-spread " +
      "neighborhoods count as degenerate") {
    import spark.implicits._
    // q1: d = (0.1, 0.2) -> LID = -2/ln(0.5) = 2.885390
    // q2: d = (0.3, 0.3) -> zero spread, no MLE
    val knn = Seq((1L, 1, 0.9), (1L, 2, 0.8), (2L, 1, 0.7), (2L, 2, 0.7))
      .toDF("q_id", "rn", "sim_r")
    val r = Similarity.lidMle(knn).collect()(0)
    assert(r.getAs[Long]("n_queries") == 2L)
    assert(r.getAs[Long]("n_degenerate") == 1L)
    assert(math.abs(r.getAs[Double]("mean_lid_r")
      - (-2.0 / math.log(0.5))) < 1e-4, r.toString)
  }

  test("topTwoEigen: axis-aligned corpus recovers both axes, " +
      "orthogonal, with the exact eigenvalues") {
    import spark.implicits._
    val e = Seq((1L, Seq(2.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f))).toDF("vec_id", "embedding")
    val got = Similarity.topTwoEigen(e, iters = 8).orderBy("j")
      .collect()
    // M = [[8,0],[0,1]] -> v1 = e0 (lam 8), v2 = e1 (lam 1)
    assert(math.abs(math.abs(got(0).getAs[Double]("loading1_r")) - 1.0)
      < 1e-4, got.mkString(";"))
    assert(math.abs(got(1).getAs[Double]("loading1_r")) < 1e-3)
    assert(math.abs(math.abs(got(1).getAs[Double]("loading2_r")) - 1.0)
      < 1e-4)
    assert(math.abs(got(0).getAs[Double]("lambda1_r") - 8.0) < 1e-3)
    assert(math.abs(got(0).getAs[Double]("lambda2_r") - 1.0) < 1e-3)
    assert(math.abs(got(0).getAs[Double]("dot12_r")) < 1e-3)
  }

  test("anisotropyDirection: a one-direction corpus reads cos = 1 " +
      "everywhere") {
    import spark.implicits._
    val e = Seq((1L, Seq(1.0f, 0.0f)), (2L, Seq(2.0f, 0.0f)),
      (3L, Seq(3.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.anisotropyDirection(e, iters = 4, 0.5)
      .collect()(0)
    assert(r.getAs[Long]("n") == 3L)
    assert(math.abs(math.abs(r.getAs[Double]("mean_cos_r")) - 1.0)
      < 1e-6, r.toString)
    assert(r.getAs[Double]("frac_abs_gt_r") == 1.0)
  }

  test("topEigen: the conf-gated moment cap fails loudly on an " +
      "over-cap dimensionality (driver-OOM guard)") {
    import spark.implicits._
    val emb = Seq(Array(1f, 0f), Array(0f, 1f)).toDF("embedding")
    spark.conf.set("spark.graft.driverLocal.momentCap", "2")
    try {
      val e = intercept[IllegalArgumentException] {
        Similarity.topEigen(emb, 2)
      }
      assert(e.getMessage.contains("driver-local"), e.getMessage)
    } finally spark.conf.unset("spark.graft.driverLocal.momentCap")
  }
}
