package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"),   // exact dup of 1
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "completely different text with no overlap at all"),
    (5L, "xy")                                             // < 3 tokens
  ).toDF("doc_id", "text")

  test("exact dedup groups by content hash with min-id keeper") {
    val g = Dedup.exactDupGroups(docs, "doc_id", "text")
      .orderBy("keeper_id").collect()
    assert(g.map(r => (r.getAs[Long]("keeper_id"), r.getAs[Long]("n_copies")))
      .toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("shingles: n-2 word-3-grams; short docs yield none") {
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
    val counts = sh.groupBy("doc_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts(1L) == 7L) // 9 tokens → 7 word-3-grams, all distinct
    assert(!counts.contains(5L)) // too short
  }

  test("identical docs share the full minhash signature; near-dups most of it") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (0 until Dedup.NumHashes).map(j => r.getAs[Long](s"m$j")))
      .toMap
    assert(sig(1L) == sig(2L))
    val agree = sig(1L).zip(sig(3L)).count { case (a, b) => a == b }
    assert(agree > Dedup.NumHashes / 2, s"only $agree/16 minhashes agree")
    assert(sig(1L) != sig(4L))
  }

  test("LSH candidates contain the dup pair, not the disjoint pair") {
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text")
    val pairs = Dedup.lshCandidatePairs(sig, "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.contains((1L, 4L)))
  }

  test("jaccard: exact dup = 1.0; computed ratio matches set arithmetic") {
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
    val j = Dedup.jaccardForPairs(sh, pairs, "doc_id").collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jaccard")).toMap
    assert(j((1L, 2L)) == 1.0)
    // doc1 vs doc3: 9-token docs, differ in token 8 → shingles 6 each,
    // 5 shared... compute: intersection 4? assert in (0,1)
    assert(j((1L, 3L)) > 0.0 && j((1L, 3L)) < 1.0)
  }

  test("simhash: identical docs equal; near-dups within small hamming") {
    val sh = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) < ham(sh(1L), sh(4L)),
      "near-dup should be closer than disjoint doc")
  }

  test("simhashNearDups: exact dup at hamming 0, disjoint doc absent " +
      "(regression: Spark rejects the '>>' SQL operator)") {
    // plans AND executes the banding expr — the round-3 '>>' version
    // failed at parse time, so .collect() is the assertion that matters
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", maxDist = 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(pairs((1L, 2L)) == 0, "exact dup must pair at hamming 0")
    assert(pairs.forall { case (_, h) => h <= 3 })
    assert(!pairs.contains((1L, 4L)) && !pairs.contains((2L, 4L)),
      "disjoint doc must not survive the bit_count verify")
  }

  test("near-dup components: chains collapse to the min-id keeper") {
    // chain 1-2-3 plus isolated pair 7-9: labels converge to component min
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val labels = Dedup.nearDupComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))
  }

  test("near-dup components: a 10-hop chain converges to ONE keeper " +
      "(fixpoint loop path)") {
    // 1-2-3-...-11: diameter 10 — a fixed 5-round propagation would split
    // this into multiple keepers; the fixpoint loop must not.
    // smallGraphMaxEdges=0 forces the large-graph propagation path.
    val pairs = (1L to 10L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = Dedup.nearDupComponents(pairs, smallGraphMaxEdges = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 11)
    assert(labels.values.toSet == Set(1L),
      s"every node must carry the chain minimum, got $labels")
    // pointer jumping must make rounds O(log diameter): plain
    // neighbor-min propagation would need 10 rounds (+1 verify) on
    // this chain; with the shortcut the label-chain depth halves each
    // round, so well under that
    val rounds = spark.conf
      .get("spark.graft.dedup.lastComponentsRounds").toInt
    assert(rounds <= 6, s"diameter-10 chain took $rounds rounds")
  }

  test("union-find path and propagation path produce identical labels") {
    // chains, a cycle, a star, and isolated pairs in one graph
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 20L), (20L, 30L),
      (30L, 40L), (100L, 7L), (100L, 8L), (100L, 9L), (55L, 44L)))
      .toDF("doc_a", "doc_b")
    def run(small: Long) =
      Dedup.nearDupComponents(pairs, smallGraphMaxEdges = small)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val unionFind = run(Long.MaxValue)
    val propagation = run(0)
    assert(unionFind == propagation)
    assert(unionFind(40L) == 10L && unionFind(100L) == 7L &&
      unionFind(55L) == 44L && unionFind(3L) == 1L)
  }

  test("spark.graft.dedup.unionFindMaxEdges config gates the path " +
      "choice when no explicit threshold is passed") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    val key = "spark.graft.dedup.unionFindMaxEdges"
    try {
      // 0 edges allowed in the union-find → the default-arg call must
      // take the fixpoint-propagation path and still converge
      spark.conf.set(key, "0")
      val viaPropagation = Dedup.nearDupComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaPropagation == want, viaPropagation.toString)
      // a huge gate routes the same default-arg call through union-find
      spark.conf.set(key, Long.MaxValue.toString)
      val viaUnionFind = Dedup.nearDupComponents(pairs).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(viaUnionFind == want, viaUnionFind.toString)
      // an explicit argument wins over the session config
      spark.conf.set(key, "0")
      val explicitArg = Dedup.nearDupComponents(pairs,
          smallGraphMaxEdges = Long.MaxValue).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(explicitArg == want, explicitArg.toString)
    } finally spark.conf.unset(key)
  }

  test("union-find path handles string ids (generic Comparable keys)") {
    val pairs = Seq(("b", "a"), ("b", "c"), ("x", "z")).toDF("doc_a", "doc_b")
    val labels = Dedup.nearDupComponents(pairs).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(labels == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "z" -> "x"))
  }

  test("bandJoin skew valve: over-dense buckets are dropped, others kept") {
    // hot bucket: 5 docs share (band 0, key "hot") -> C(5,2)=10 pairs;
    // normal bucket: 2 docs share (band 1, key "ok") -> 1 pair
    val hot = (1L to 5L).map(i => (i, 0, "hot"))
    val ok = Seq((10L, 1, "ok"), (11L, 1, "ok"))
    val bands = (hot ++ ok).toDF("doc_id", "band", "bk")
    val unlimited = Dedup.bandJoin(bands, "doc_id", "doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unlimited.size == 11)
    val capped = Dedup.bandJoin(bands, "doc_id", "doc_a", "doc_b",
        maxBucket = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((10L, 11L)),
      "the 5-member bucket must be dropped, the 2-member bucket kept")
  }

  test("nearDupRemovals drops non-keeper dups, keeps keeper + uniques") {
    val removed = Dedup.nearDupRemovals(docs, "doc_id", "text", 0.5)
      .as[Long].collect().toSet
    assert(removed.contains(2L), "exact dup of doc 1 must be removed")
    // doc 3 (jaccard 5/9 ≈ 0.56 vs doc 1) is only probabilistically
    // caught by 4×4-band LSH (~34% for s=0.56 — the designed recall
    // curve targets higher similarity), so no assertion on it
    assert(!removed.contains(1L), "keeper stays")
    assert(!removed.contains(4L) && !removed.contains(5L), "unique docs stay")
  }

  test("jaccardForPairs: no forced broadcast — a too-big candidate set " +
      "plans a shuffle join, not a driver-OOM broadcast") {
    // With the auto-broadcast threshold off, a hard broadcast() hint on
    // the candidate-id set would still plan BroadcastHashJoin (hints
    // override the threshold). The hint was removed so that AQE/planner
    // sizing decides; below the planner must fall back to a shuffle join.
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val sh = Dedup.shingleTable(docs, "doc_id", "text")
      val pairs = Seq((1L, 2L), (1L, 3L)).toDF("doc_a", "doc_b")
      val df = Dedup.jaccardForPairs(sh, pairs, "doc_id")
      // drop the op's internal candidate-shingle cache BEFORE forcing the
      // plan: cache substitution would wrap the semi-join inside an
      // InMemoryRelation and hide it from the plan string
      spark.sqlContext.clearCache()
      val plan = df.queryExecution.sparkPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"candidate semi-filter must not force a broadcast:\n$plan")
      assert(plan.contains("LeftSemi"), s"semi-filter missing:\n$plan")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("nearDupComponents with knownPairCount matches the counted paths") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("doc_a", "doc_b")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L)
    // known count, small → union-find without the extra checkpoint/count
    assert(labels(Dedup.nearDupComponents(pairs,
      knownPairCount = Some(3L))) == expected)
    // known count, above the small-graph gate → propagation path
    assert(labels(Dedup.nearDupComponents(pairs, smallGraphMaxEdges = 0,
      knownPairCount = Some(3L))) == expected)
  }

  test("simhashNearDups pigeonhole property (fixed seed): EVERY pair " +
      "within maxDist is found, NONE beyond survives, hamming is exact") {
    // The banding is exact-recall by pigeonhole: hashes within hamming
    // maxDist differ in at most maxDist of the maxDist+1 chunks, so they
    // agree exactly on at least one and must meet in its bucket. Feed
    // synthetic 60-bit hashes with known pairwise distances through the
    // owner-controlled seam and compare against the brute-force answer.
    val rnd = new scala.util.Random(42L)
    val mask60 = (1L << 60) - 1
    val hashes = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var id = 0L
    (0 until 12).foreach { _ =>
      val base = rnd.nextLong() & mask60
      hashes += ((id, base)); id += 1
      // five perturbed copies at 0..5 bit flips: straddles the maxDist=3
      // boundary on both sides, plus cross-cluster pairs far apart
      (1 to 5).foreach { _ =>
        var h = base
        rnd.shuffle((0 until 60).toList).take(rnd.nextInt(6))
          .foreach(p => h ^= 1L << p)
        hashes += ((id, h)); id += 1
      }
    }
    val expected = (for {
      (ia, ha) <- hashes; (ib, hb) <- hashes
      if ia < ib && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (ia, ib) -> java.lang.Long.bitCount(ha ^ hb)).toMap
    assert(expected.nonEmpty && expected.size < hashes.size * (hashes.size - 1) / 2,
      "corpus must have both near and far pairs for the test to bite")
    val got = Dedup
      .simhashNearDupsOnTable(hashes.toSeq.toDF("doc_id", "simhash"),
        "doc_id", maxDist = 3)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(got == expected,
      s"missed: ${expected.keySet diff got.keySet}; " +
        s"spurious: ${got.keySet diff expected.keySet}")
  }

  test("simhashNearDupsOnTable leaves caching to the caller " +
      "(adds no persistent RDDs of its own)") {
    val sh = Seq((1L, 0L), (2L, 1L)).toDF("doc_id", "simhash")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    Dedup.simhashNearDupsOnTable(sh, "doc_id").collect()
    val added = spark.sparkContext.getPersistentRDDs.keySet diff before
    assert(added.isEmpty, s"unexpected cache entries: $added")
  }

  test("simhashRemovals: exact dup removed, keeper + unique docs kept; " +
      "removals equal non-keeper members of simhashNearDups components") {
    val removed = Dedup.simhashRemovals(docs, "doc_id", "text", 3)
      .as[Long].collect().toSet
    assert(removed.contains(2L), "exact dup (hamming 0) must be removed")
    assert(!removed.contains(1L), "the min-id keeper stays")
    assert(!removed.contains(4L), "the disjoint doc stays")
    // cross-check against composing the pieces by hand
    val pairs = Dedup.simhashNearDups(docs, "doc_id", "text", 3)
    val expected = Dedup.nearDupComponents(pairs)
      .filter(col("label") < col("node"))
      .select(col("node")).as[Long].collect().toSet
    assert(removed == expected)
  }

  test("hammingDist column matches Long.bitCount") {
    val df = Seq((0x0FL, 0x00L), (0xFFL, 0xF0L)).toDF("a", "b")
    val got = df.select(Dedup.hammingDist(col("a"), col("b"))).as[Int].collect()
    assert(got.toSeq == Seq(4, 4))
  }

  test("nearDupClusterHistogram: a 3-clique and a pair roll up to " +
    "{3→1, 2→1}; singletons are not clusters") {
    val shared =
      "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
        "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val other =
      "one two three four five six seven eight nine ten eleven " +
        "twelve thirteen fourteen fifteen sixteen"
    val docs = Seq(
      (1L, shared), (2L, shared), (3L, shared),   // exact triplet
      (10L, other), (11L, other),                 // exact pair
      (20L, "completely different text with nothing shared here at all " +
        "padding words continue for shingle coverage")
    ).toDF("doc_id", "text")
    val got = Dedup.nearDupClusterHistogram(docs, "doc_id", "text", 0.5)
      .orderBy("cluster_size").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq
    assert(got == Seq(2L -> 1L, 3L -> 1L))
  }

  test("prefixFilterPairs: EXACT recall — equals brute-force all-pairs " +
    "Jaccard on a fixed-seed random corpus (the lossless guarantee LSH " +
    "lacks)") {
    val rnd = new scala.util.Random(13)
    val vocab = ('a' to 'z').map(_.toString)
    // 24 docs in 6 clusters of shared base text with per-doc edits →
    // a mix of qualifying and near-miss pairs
    val docs = (0 until 24).map { i =>
      val base = new scala.util.Random(i / 4) // 4 docs share a base
      val words = Seq.fill(12)(vocab(base.nextInt(26))) ++
        Seq.fill(rnd.nextInt(4))(vocab(rnd.nextInt(26)))
      (i.toLong, words.mkString(" "))
    }.toDF("doc_id", "text")
    val threshold = 0.5
    val got = Dedup.prefixFilterPairs(docs, "doc_id", "text", threshold)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // brute force over the same shingle sets
    val sets = Dedup.shingleTable(docs, "doc_id", "text")
      .as[(Long, Long)].collect().groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val want = (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) & sets(b)).size
      if inter > 0 &&
        inter.toDouble / (sets(a).size + sets(b).size - inter) >= threshold
    } yield (a, b)).toSet
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    assert(want.nonEmpty, "fixture must actually produce qualifying pairs")
  }

  test("nearDupRemovals ≡ componentsOf non-keepers (refactor identity)") {
    val shared = "the quick brown fox jumps over the lazy dog again and " +
      "again with extra words to make shingles"
    val docs = Seq((1L, shared), (2L, shared),
      (3L, "unrelated content that shares no shingles with the others " +
        "and keeps going long enough")).toDF("doc_id", "text")
    val viaRemovals = Dedup.nearDupRemovals(docs, "doc_id", "text", 0.5)
      .as[Long].collect().toSet
    val viaComponents = Dedup
      .nearDupComponentsOf(docs, "doc_id", "text", 0.5)
      .filter(col("label") < col("node"))
      .select(col("node")).as[Long].collect().toSet
    assert(viaRemovals == viaComponents && viaRemovals == Set(2L))
  }

  test("duplicatedNGrams: cross-doc gram found with doc + occurrence " +
      "counts; single-doc repeats excluded by minDocs") {
    val d = Seq(
      (1L, "w1 w2 w3 w4"),
      (2L, "w1 w2 w3 w5"),
      (3L, "x x x x")).toDF("doc_id", "text")
    val got3 = Dedup.duplicatedNGrams(d, "doc_id", "text", 3).collect()
    assert(got3.length == 1)
    assert(got3.head.getString(0) == "w1 w2 w3")
    assert(got3.head.getAs[Long]("n_docs") == 2L)
    assert(got3.head.getAs[Long]("n_occurrences") == 2L)
    // "x x" repeats 3x inside doc 3 only -> excluded at minDocs=2
    val got2 = Dedup.duplicatedNGrams(d, "doc_id", "text", 2)
      .collect().map(_.getString(0)).toSet
    assert(!got2.contains("x x"))
  }

  test("duplicatedNGrams: within-doc occurrences sum across docs; " +
      "docs shorter than k contribute nothing") {
    val d = Seq(
      (1L, "x x x x"),  // 3 instances of "x x"
      (2L, "x x"),      // 1 instance
      (3L, "x")         // shorter than k=2: no grams
    ).toDF("doc_id", "text")
    val got = Dedup.duplicatedNGrams(d, "doc_id", "text", 2).collect()
    assert(got.length == 1)
    assert(got.head.getString(0) == "x x")
    assert(got.head.getAs[Long]("n_docs") == 2L)
    assert(got.head.getAs[Long]("n_occurrences") == 4L)
  }

  test("dupNGramCoverage: covered positions are a UNION over overlapping " +
      "dup grams; clean docs report 0") {
    val d = Seq(
      (1L, "a b c d"),   // grams "a b c"(0), "b c d"(1) — both duplicated
      (2L, "a b c"),
      (3L, "b c d"),
      (4L, "p q r s t")) // nothing shared
      .toDF("doc_id", "text")
    val got = Dedup.dupNGramCoverage(d, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
    // doc 1: {0,1,2} ∪ {1,2,3} = 4 of 4 tokens covered
    assert(got(0).getAs[Long]("n_covered") == 4L)
    assert(got(0).getAs[Double]("coverage_r") == 1.0)
    // docs 2/3: their single gram is shared with doc 1 -> full coverage
    assert(got(1).getAs[Double]("coverage_r") == 1.0)
    assert(got(2).getAs[Double]("coverage_r") == 1.0)
    // doc 4: no shared grams -> 0 of 5
    assert(got(3).getAs[Long]("n_tokens") == 5L)
    assert(got(3).getAs[Long]("n_covered") == 0L)
    assert(got(3).getAs[Double]("coverage_r") == 0.0)
  }

  test("dupNGramCoverage: partial coverage and docs shorter than k") {
    val d = Seq(
      (1L, "w1 w2 w3 w4 u1 u2 u3"), // only "w1 w2 w3" region shared
      (2L, "w1 w2 w3"),
      (3L, "zz"))                   // shorter than k=3: no grams, 0
      .toDF("doc_id", "text")
    val got = Dedup.dupNGramCoverage(d, "doc_id", "text", 3)
      .orderBy("doc_id").collect()
    assert(got(0).getAs[Long]("n_covered") == 3L)
    assert(got(0).getAs[Double]("coverage_r") ==
      BigDecimal(3.0 / 7).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(got(2).getAs[Long]("n_tokens") == 1L)
    assert(got(2).getAs[Long]("n_covered") == 0L)
  }

  test("deltaNearDups: only cross-side pairs, oriented (new, base); " +
      "equals the full-corpus LSH+verify restricted to cross pairs; " +
      "persisted-index core == inline wrapper") {
    val base = docs.filter(col("doc_id") % 2 =!= 0)
    val delta = docs.filter(col("doc_id") % 2 === 0)
    val got = Dedup.deltaNearDups(base, delta, "doc_id", "text", 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      .toSet
    assert(got.nonEmpty, "fixture has a cross-side exact dup (1, 2)")
    assert(got.forall { case (n, b, _) => n % 2 == 0 && b % 2 != 0 })
    val full = Dedup.jaccardForPairs(
        Dedup.shingleTable(docs, "doc_id", "text"),
        Dedup.lshCandidatePairs(
          Dedup.minhashSignatures(docs, "doc_id", "text"), "doc_id"),
        "doc_id")
      .filter(col("jaccard") >= 0.5).collect()
      .flatMap { r =>
        val (a, b, j) = (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
          r.getAs[Double]("jaccard"))
        if (a % 2 == 0 && b % 2 != 0) Some((a, b, j))
        else if (b % 2 == 0 && a % 2 != 0) Some((b, a, j))
        else None
      }.toSet
    assert(got == full, s"got $got want $full")
    val baseSh = Dedup.shingleTable(base, "doc_id", "text")
    val viaIndex = Dedup.deltaNearDupsOnIndex(
        Dedup.bandTable(Dedup.minhashFromShingles(baseSh, "doc_id"),
          "doc_id"),
        baseSh, delta, "doc_id", "text", 0.5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      .toSet
    assert(viaIndex == got, "stored-index path must equal the wrapper")
  }

  test("sortedNeighborhoodPairs: near-dups adjacent in key order are " +
      "found (incl. across the first-char band boundary), similar docs " +
      "sorted > w apart are NOT (the documented recall gap)") {
    // sort order by 24-char prefix: ids 1,2 (a...), 3 (azz), 4 (b...)
    // then 10,11 (z...). Window w=3.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),        // rank 1
      (2L, "alpha beta gamma delta zeta"),           // rank 2: near-dup of 1
      (3L, "azz mid filler doc nothing shared here"),// rank 3
      (4L, "beta alpha gamma delta epsilon xx"),     // rank 4: band 'b'
      (10L, "zz tail one two three four five"),      // rank 5
      (11L, "zz tail one two three four six")        // rank 6: near-dup of 10
    ).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        w = 3, minJaccard = 0.3)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        (r.getAs[Long]("rank_gap"), r.getAs[Double]("jaccard"))).toMap
    // (1,2): shingles of 5-token docs: 3 each, 2 shared -> J = 2/4 = 0.5
    assert(got((1L, 2L)) == ((1L, 0.5)))
    // (10,11): gap 1, J = 4/6 (5 shingles each, 4 shared)
    assert(got((10L, 11L)) == ((1L, 4.0 / 6)))
    // cross-band window: rank 3 ('a' band) and rank 4 ('b' band) ARE
    // candidates (gap 1) — but fail the Jaccard floor, so the pair's
    // absence here proves the verify ran, not that the window skipped it
    assert(!got.contains((3L, 4L)))
    // docs 1/2 vs 4 share 'gamma delta' content but doc 4 sorts 2+
    // ranks away with w=3... gap 3 > w-1=2 for (1,4): NOT a candidate
    assert(!got.keySet.exists { case (a, b) => a == 1L && b == 4L })
  }

  test("sortedNeighborhoodPairs: two-level numbering equals a global " +
      "row_number (pairs invariant under band structure)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(5)
    val words = Vector("apple", "bear", "cat", "dog", "emu", "fox")
    val docs = (1L to 60L).map { i =>
      (i, Seq.fill(6)(words(rnd.nextInt(words.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
        w = 4, minJaccard = 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet
    // reference: global row_number window (single partition, fine in a
    // test), same key/tie-break, same w and threshold
    val keyed = docs.select(col("doc_id"),
      substring(graft.ops.TextOps.normalize(col("text")), 1, 24).as("k"))
    val ranked = keyed.withColumn("rn",
      row_number().over(Window.orderBy(col("k"), col("doc_id"))))
    val a = ranked.select(col("doc_id").as("doc_a"), col("rn").as("ra"))
    val b = ranked.select(col("doc_id").as("doc_b"), col("rn").as("rb"))
    val refCand = a.crossJoin(b)
      .filter(col("rb") > col("ra") && col("rb") - col("ra") <= 3)
      .select("doc_a", "doc_b")
    val refPairs = Dedup.jaccardForPairs(
        Dedup.shingleTable(docs, "doc_id", "text"), refCand, "doc_id")
      .filter(col("jaccard") >= 0.5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")))
      .toSet
    assert(got == refPairs, s"got $got want $refPairs")
  }

  test("segmentDedup: keep-first by (doc, seg_idx); later instances " +
      "dropped wherever they appear") {
    val docs = Seq(
      (0L, "a b c d"),  // segs: [a b] first, [c d] first
      (1L, "a b x y"),  // [a b] dup of (0,0); [x y] first
      (2L, "c d a b")   // both dup
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_segs"),
        r.getAs[Long]("n_dup"), r.getAs[Long]("kept_tokens"),
        r.getAs[Long]("total_tokens"))).toSeq
    assert(got == Seq((0L, 2L, 0L, 4L, 4L), (1L, 2L, 1L, 2L, 4L),
      (2L, 2L, 2L, 0L, 4L)))
  }

  test("segmentDedup: a WITHIN-doc repeat is a duplicate of its own " +
      "earlier segment; a short tail segment keeps its true length") {
    val docs = Seq(
      (0L, "a b a b"),  // seg 1 duplicates seg 0 of the same doc
      (1L, "p q r")     // segs [p q] (2 toks) + short tail [r] (1 tok)
    ).toDF("doc_id", "text")
    val got = Dedup.segmentDedup(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_segs"),
        r.getAs[Long]("n_dup"), r.getAs[Long]("kept_tokens"),
        r.getAs[Long]("total_tokens"))).toSeq
    assert(got == Seq((0L, 2L, 1L, 2L, 4L), (1L, 2L, 0L, 3L, 3L)))
  }

  test("blockingQualityAudit: exact counts on a 12-clone corpus - " +
      "window w=10 misses exactly the gap-10 and gap-11 clone pairs") {
    import spark.implicits._
    // 12 identical docs (one content group, ranks 1..12 contiguous)
    // plus 3 distinct docs. true pairs = C(12,2) = 66; a w=10 window
    // keeps gaps <= 9: misses (1,11),(1,12),(2,12) -> found 63
    val docs = ((0L until 12L).map(i => (i, "same text content")) ++
      Seq((100L, "aaa unrelated"), (101L, "zzz other"),
        (102L, "mmm third"))).toDF("doc_id", "text")
    val r = Dedup.blockingQualityAudit(docs, "doc_id", "text", 10)
      .collect().head
    assert(r.getAs[Long]("n_docs") == 15)
    assert(r.getAs[Long]("n_true_pairs") == 66)
    assert(r.getAs[Long]("n_found_pairs") == 63)
    assert(r.getAs[Double]("pc_r") == 0.954545, r.toString)
    // RR = 1 - n_cand / C(15,2); n_cand from the audit row itself
    val rr = 1.0 - r.getAs[Long]("n_cand_pairs").toDouble / 105.0
    assert(math.abs(r.getAs[Double]("rr_r") - rr) < 5e-7)
  }

  test("minhashBiasAudit: exact duplicates land at est16 = 16 with " +
      "zero bias; stratum means are exact-Jaccard averages") {
    import spark.implicits._
    // two exact dups (jaccard 1, all 16 components match) and one
    // near-dup pair sharing a long prefix
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "completely different words entirely here now today yes"))
      .toDF("doc_id", "text")
    val got = Dedup.minhashBiasAudit(docs, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("est16") -> r).toMap
    // the exact-dup pair must sit at est16=16, bias exactly 0
    assert(got.contains(16L), got.keys.toSeq.sorted.mkString(","))
    assert(got(16L).getAs[Double]("mean_exact_r") == 1.0)
    assert(got(16L).getAs[Double]("mean_bias_r") == 0.0)
    assert(got(16L).getAs[Double]("est_r") == 1.0)
    // every stratum: bias = est - mean_exact (single-pair strata here)
    got.values.foreach { r =>
      assert(math.abs(r.getAs[Double]("mean_bias_r") -
        (r.getAs[Double]("est_r") - r.getAs[Double]("mean_exact_r")))
        < 2e-6, r.toString)
    }
  }

  test("fellegiSunterWeights: exact m/u rates and LLR weights on a " +
      "hand pair table; boundary rates yield NULL weights") {
    import spark.implicits._
    // 4 match pairs (3 agree on f), 4 non-match (1 agrees on f);
    // feature g agrees on ALL matches (m=1 -> disagree weight NULL)
    val pairs = Seq(
      (true, true, true), (true, true, true), (true, true, true),
      (true, false, true),
      (false, true, false), (false, false, false),
      (false, false, false), (false, false, true))
      .toDF("m", "f", "g")
    val got = Dedup.fellegiSunterWeights(pairs, "m", Seq("f", "g"))
      .collect().map(r => r.getAs[String]("feature") -> r).toMap
    val f = got("f")
    assert(f.getAs[Long]("n_match") == 4 &&
      f.getAs[Long]("n_nonmatch") == 4)
    assert(f.getAs[Double]("m_r") == 0.75)
    assert(f.getAs[Double]("u_r") == 0.25)
    // ln(3) and ln(1/3)
    assert(f.getAs[Double]("w_agree_r") == 1.098612)
    assert(f.getAs[Double]("w_disagree_r") == -1.098612)
    val g = got("g")
    assert(g.getAs[Double]("m_r") == 1.0)
    assert(g.isNullAt(g.fieldIndex("w_disagree_r")))
  }

  /** The near-dup trunk's parity corpus (fixed seed, ~200 docs): 120
    * unique docs, 20 planted near-dup families of 2–4 members (1–3 word
    * edits on 40 words), a 15-doc boilerplate family sharing a 24-word
    * template (pairwise Jaccard ≈ 0.4, under the 0.5 threshold, so any
    * band collision among them must be rejected), an exact pair that
    * collides in all 4 bands, and three docs under 3 tokens. */
  private lazy val parityDocs = {
    val rnd = new scala.util.Random(606L)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(5000)}")
    val unique = Seq.fill(120)(words(40))
    val families = Seq.fill(20) {
      val base = words(40)
      base +: Seq.fill(1 + rnd.nextInt(3)) {
        (1 to 1 + rnd.nextInt(3)).foldLeft(base) { (d, _) =>
          d.updated(rnd.nextInt(d.size), s"e${rnd.nextInt(5000)}")
        }
      }
    }.flatten
    val template = words(24)
    val boiler = Seq.fill(15)(template ++ words(16))
    val exact = words(40)
    val texts = (unique ++ families ++ boiler ++ Seq(exact, exact))
      .map(_.mkString(" ")) ++ Seq("ab", "x y", "")
    // shuffled ids, so no family sits on consecutive ids
    rnd.shuffle(texts.indices.toList).zip(texts)
      .map { case (i, t) => (i.toLong + 1, t) }.toDF("doc_id", "text")
  }

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  private def idSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.getLong(0)).toSet

  test("near-dup trunk parity: verify-in-bucket ≡ the composed " +
      "helpers (bandJoin → candidate sets → jaccardOnSets → components)") {
    val sh = Dedup.shingleTable(parityDocs, "doc_id", "text")
    val cand = Dedup.bandJoin(Dedup.bandTable(
      Dedup.minhashFromShingles(sh, "doc_id"), "doc_id"),
      "doc_id", "doc_a", "doc_b")
    val verified = Dedup.jaccardOnSets(Dedup.docShingleSets(
        Dedup.candidateShingles(sh, cand, "doc_id"), "doc_id"), cand, "doc_id")
      .filter(col("jaccard") >= 0.5).select("doc_a", "doc_b")
    val (nCand, nVer) = (cand.count(), verified.count())
    assert(nVer >= 20 && nCand > nVer,
      s"fixture must verify pairs AND reject candidates ($nCand → $nVer)")
    val want = pairSet(Dedup.nearDupComponents(verified))
    val got = pairSet(Dedup.nearDupComponentsOf(parityDocs, "doc_id",
      "text", 0.5))
    assert(got == want, s"missing=${want -- got} extra=${got -- want}")
    val removed = idSet(Dedup.nearDupRemovals(parityDocs, "doc_id",
      "text", 0.5))
    val viaIndex = idSet(Dedup.nearDupRemovalsOnIndex(sh,
      Dedup.bandTable(Dedup.minhashFromShingles(sh, "doc_id"), "doc_id"),
      "doc_id", 0.5))
    assert(viaIndex == removed)
    assert(removed == want.collect { case (n, l) if l < n => n })
  }

  test("components overflow: a union-find cap of 0 or 1 edge falls back " +
      "to propagation with the same near-dup and simhash removals") {
    val key = "spark.graft.dedup.unionFindMaxEdges"
    def run() = (
      idSet(Dedup.nearDupRemovals(parityDocs, "doc_id", "text", 0.5)),
      idSet(Dedup.simhashRemovals(parityDocs, "doc_id", "text", 3)))
    val atDefault = run()
    assert(atDefault._1.nonEmpty && atDefault._2.nonEmpty)
    for (cap <- Seq("1", "0")) {
      try {
        spark.conf.set(key, cap)
        assert(run() == atDefault, s"cap $cap")
      } finally spark.conf.unset(key)
    }
    val pairs = Dedup.simhashNearDups(parityDocs, "doc_id", "text", 3)
    assert(pairSet(Dedup.nearDupComponents(pairs, smallGraphMaxEdges = 0)) ==
      pairSet(Dedup.nearDupComponents(pairs)))
  }

  test("near-dup removal runs a fixed handful of Spark jobs") {
    val sc = spark.sparkContext
    val group = "neardup-job-pin"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (e.properties != null &&
            e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "near-dup job pin")
      try Dedup.nearDupRemovals(parityDocs, "doc_id", "text", 0.5).collect()
      finally sc.clearJobGroup()
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    info(s"jobs: ${jobs.get}")
    assert(jobs.get > 0 && jobs.get <= 7, s"${jobs.get} jobs (5 measured)")
  }

  test("near-dup trunk leaves no cache entry and writes no spark.graft conf") {
    def graftConf = spark.conf.getAll.filter(_._1.startsWith("spark.graft."))
    spark.catalog.clearCache()
    val confBefore = graftConf
    val sh = Dedup.shingleTable(parityDocs, "doc_id", "text")
    val bands = Dedup.bandTable(Dedup.minhashFromShingles(sh, "doc_id"),
      "doc_id")
    Dedup.nearDupRemovals(parityDocs, "doc_id", "text", 0.5).collect()
    Dedup.nearDupClusterHistogram(parityDocs, "doc_id", "text", 0.5)
      .collect()
    Dedup.nearDupRemovalsOnIndex(sh, bands, "doc_id", 0.5).collect()
    val cache = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    assert(cache.isEmpty, "the trunk must not leave a cached frame")
    assert(graftConf == confBefore)
  }
}
