package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Empty-input behavior of the operator library: every op must return an
  * empty (correctly-schemed) frame, never throw — the property that lets
  * a scheduled 100 TB pipeline survive an empty daily increment (the
  * reference's own O9 short-circuit, generalized). */
class EdgeCasesSpec extends SparkTestBase {
  import spark.implicits._

  private val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("dedup pipeline on an empty corpus: empty at every stage") {
    assert(Dedup.exactDupGroups(noDocs, "doc_id", "text").isEmpty)
    assert(Dedup.shingleTable(noDocs, "doc_id", "text").isEmpty)
    assert(Dedup.minhashSignatures(noDocs, "doc_id", "text").isEmpty)
    val removed = Dedup.nearDupRemovals(noDocs, "doc_id", "text", 0.5)
    assert(removed.isEmpty)
    assert(removed.columns.toSeq == Seq("doc_id"))
  }

  test("near-dup and simhash removal on an empty and an all-short corpus") {
    val short = Seq((1L, "ab"), (2L, "ab"), (3L, "x y"), (4L, ""))
      .toDF("doc_id", "text")
    for (d <- Seq(noDocs, short)) {
      assert(Dedup.nearDupComponentsOf(d, "doc_id", "text", 0.5).isEmpty)
      assert(Dedup.nearDupRemovals(d, "doc_id", "text", 0.5).isEmpty)
      assert(Dedup.nearDupClusterHistogram(d, "doc_id", "text", 0.5).isEmpty)
      val sh = Dedup.shingleTable(d, "doc_id", "text")
      assert(Dedup.nearDupRemovalsOnIndex(sh, Dedup.bandTable(
        Dedup.minhashFromShingles(sh, "doc_id"), "doc_id"),
        "doc_id", 0.5).isEmpty)
    }
    assert(Dedup.simhashRemovals(noDocs, "doc_id", "text").isEmpty)
  }

  test("simhash / fingerprints / text scoring on empty input") {
    assert(Dedup.simhash(noDocs, "doc_id", "text").isEmpty)
    assert(TextOps.fingerprints(noDocs, "doc_id", "text").isEmpty)
    assert(TextOps.unigramSurprisal(noDocs, "doc_id", "text").isEmpty)
    assert(TextOps.tfidf(noDocs, "doc_id", "text").isEmpty)
    assert(TextOps.repetition(noDocs, "doc_id", "text").isEmpty)
  }

  test("sessionize on an empty event table") {
    val empty = Seq.empty[(Long, Long, java.sql.Timestamp)]
      .toDF("event_id", "user_id", "ts")
    val s = Sessionize.sessions(empty, "user_id", "ts", "event_id", 60L)
    assert(s.isEmpty)
    assert(s.columns.contains("session_idx"))
  }

  test("curation ops on empty inputs") {
    val empty = Seq.empty[(Long, String)].toDF("id", "stratum")
    assert(Curation.hashSplit(empty.select("id"), "id").isEmpty)
    assert(Curation.stratifiedSample(empty, "id", "stratum",
      Map("a" -> 50), 10).isEmpty)
    assert(Curation.latestPerKey(empty, "stratum", col("id").desc).isEmpty)
    // upsert: empty current + updates = updates; both empty = empty
    val upd = Seq((1L, "x")).toDF("id", "stratum")
    val merged = Curation.upsert(empty, upd, "id")
    assert(merged.as[(Long, String)].collect().toSeq == Seq((1L, "x")))
    assert(Curation.upsert(empty, empty, "id").isEmpty)
    assert(Curation.contaminationOverlap(noDocs, "doc_id", "text",
      col("doc_id") % 2 === 0).isEmpty)
  }

  test("similarity ops on empty embeddings") {
    val emb = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val queries = Seq((99L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    assert(Similarity.cosineTopK(emb, queries, 5).isEmpty)
    assert(EmbeddingLsh.nearDupPairs(emb, "vec_id", "embedding", 2, 0.5)
      .isEmpty)
  }

  test("round-5 ops on empty inputs") {
    val noEv = Seq.empty[(Long, Long, String, java.sql.Timestamp)]
      .toDF("user_id", "event_id", "event_type", "ts")
    assert(Behavior.funnel(noEv, "user_id", "event_type", "ts",
      Seq("view", "click")).isEmpty)
    assert(Behavior.weeklyRetention(noEv, "user_id", "ts").isEmpty)
    assert(Behavior.transitions(noEv, "user_id", "event_type",
      Seq(col("ts"), col("event_id"))).isEmpty)
    assert(Behavior.rollingDistinct(noEv, "user_id", "event_type", "ts", 7)
      .isEmpty)
    val noSnap = Seq.empty[(Long, Double)].toDF("k", "v")
    assert(Cdc.snapshotDiff(noSnap, noSnap, "k", Seq("v")).isEmpty)
    val emptyDiff = Cdc.snapshotDiff(noSnap, noSnap, "k", Seq("v"))
    assert(Cdc.applyDiff(noSnap, emptyDiff, "k", Seq("v")).isEmpty)
    val noStr = Seq.empty[(Long, String)].toDF("id", "s")
    val vocab = Seq("abc").toDF("name")
    assert(FuzzyJoin.bestMatch(noStr, "s", vocab, "name", 1).isEmpty)
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graphs.coOccurrenceEdges(
      Seq.empty[(Long, Long)].toDF("g", "i"), "g", "i", 1L).isEmpty)
    assert(Graphs.triangleCounts(noEdges).isEmpty)
    assert(Profile.profile(noSnap, Seq(Profile.ProfCol.raw("k")))
      .collect().map(_.getLong(1)).toSeq == Seq(0L)) // 0-row profile row
    assert(Profile.histogram(noSnap, "v", 10.0).isEmpty)
    assert(Profile.zscoreOutliers(noSnap, "k", "v", 3.0).isEmpty)
    assert(Profile.winsorize(noSnap, "k", "v", 0.25, 0.75).isEmpty)
    assert(Pack.packByBudget(Seq.empty[(Long, Long)].toDF("id", "w"),
      "id", "w", 100L).isEmpty)
    assert(graft.ops.TextOps.collocations(noDocs, "text", 1L).isEmpty)
  }

  test("round-8 inference/graph ops on empty input: empty, never throw") {
    val noUnits = Seq.empty[(String, Int, Long)].toDF("g", "c", "x")
    assert(Infer.oneWayAnova(noUnits, "g", "c", "x").isEmpty)
    assert(Infer.kruskalWallis(noUnits, "g", "c", "x").isEmpty)
    val noBins = Seq.empty[(Long, Long, Long)].toDF("bin", "n", "k")
    assert(Infer.pavIsotonic(noBins, "bin", "n", "k").isEmpty)
    val noPairs = Seq.empty[(String, Boolean, Boolean)]
      .toDF("g", "a", "b")
    assert(Infer.mcnemar(noPairs, "g", col("a"), col("b")).isEmpty)
    assert(Infer.cochranQ(noPairs, "g", Seq(col("a"), col("b"))).isEmpty)
    val noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Graphs.landmarkDistances(noEdges, 4, 2).isEmpty)
    assert(Graphs.landmarkHarmonic(noEdges, 4, 2).isEmpty)
    val noVals = Seq.empty[(String, Long, Long)].toDF("g", "k", "x")
    assert(Profile.concentrationProfile(noVals, "g", "x", "k", 8.0)
      .isEmpty)
    val noEv = Seq.empty[(Long, String, Long)]
      .toDF("user_id", "event_type", "ord")
    assert(Behavior.topPaths(noEv, "user_id", "event_type",
      Seq(col("ord")), 3, 5).isEmpty)
    assert(Behavior.stationaryDistribution(noEv, "user_id",
      "event_type", Seq(col("ord")), 2).isEmpty)
  }
}
