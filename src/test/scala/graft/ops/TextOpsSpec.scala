package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class TextOpsSpec extends SparkTestBase {
  import spark.implicits._

  test("normalize collapses whitespace, trims, lowercases") {
    val got = Seq("  The   QUICK\tbrown\n fox  ").toDF("t")
      .select(TextOps.normalize(col("t"))).as[String].head
    assert(got == "the quick brown fox")
  }

  test("tokenStats counts whitespace and alpha tokens") {
    val r = TextOps.tokenStats(Seq((1L, "the cat, sat!! on 42 mats"))
      .toDF("doc_id", "text"), "text").head
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[Int]("n_alpha_tokens") == 5) // the cat sat on mats
    assert(r.getAs[Long]("n_tokens_bpe_est") == math.ceil(25 / 4.0).toLong)
  }

  test("langId picks the profile with most stopword hits") {
    val df = Seq(
      (1L, "the cat and the dog went to the house in the garden"),
      (2L, "der hund und die katze ist nicht im haus"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val got = TextOps.langId(df, "text")
      .select("doc_id", "lang_pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en" && got(2L) == "de" && got(3L) == "und")
  }

  test("quality score is in [0,1] and penalizes punctuation soup") {
    val df = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs away"),
      (2L, "!!!,,,...;;;:::!!!")).toDF("doc_id", "text")
    val q = TextOps.qualityScore(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("quality")).toMap
    assert(q(1L) > q(2L))
    q.values.foreach(v => assert(v >= 0.0 && v <= 1.0))
  }

  test("fingerprints: md5 stable under whitespace noise; min-shingle set") {
    val df = Seq((1L, "the quick brown fox"), (2L, "the   QUICK brown  fox"))
      .toDF("doc_id", "text")
    val fp = TextOps.fingerprints(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[String]("content_md5"), r.getAs[Long]("min_shingle_hash")))
      .toMap
    assert(fp(1L) == fp(2L)) // normalization makes them identical
  }

  test("tfidf: tf * ln(N/df), corpus-wide terms score 0") {
    val df = Seq((1L, "apple banana apple"), (2L, "banana cherry"))
      .toDF("doc_id", "text")
    val got = TextOps.tfidf(df, "doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, "apple")) == ((2L, r6(2 * math.log(2.0)))))
    assert(got((1L, "banana")) == ((1L, 0.0)), "df == N => idf 0")
    assert(got((2L, "cherry")) == ((1L, r6(math.log(2.0)))))
  }

  test("repetition: max-bigram share; short docs drop out") {
    val df = Seq(
      (1L, "a b a b a b"),   // bigrams: ab,ba,ab,ba,ab -> max 3 of 5
      (2L, "w x y z"),       // all distinct -> 1 of 3
      (3L, "solo")           // no bigrams
    ).toDF("doc_id", "text")
    val got = TextOps.repetition(df, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(got(1L) == ((3L, 5L, 3.0 / 5)))
    assert(got(2L) == ((1L, 3L, 1.0 / 3))) // raw quotient, no rounding
    assert(!got.contains(3L))
  }

  test("scrubPii counts and redacts emails, URLs, IPs") {
    val df = Seq(
      (1L, "mail me at a.b+c@example.co.uk or visit https://x.io/p?q=1 " +
        "from 10.0.0.255 thanks"),
      (2L, "no pii here, just 1.2 numbers and at signs @ alone")
    ).toDF("doc_id", "text")
    val got = TextOps.scrubPii(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_emails"), r.getAs[Int]("n_urls"),
          r.getAs[Int]("n_ips"), r.getAs[String]("scrubbed"))).toMap
    assert(got(1L)._1 == 1 && got(1L)._2 == 1 && got(1L)._3 == 1)
    assert(got(1L)._4 ==
      "mail me at <EMAIL> or visit <URL> from <IP> thanks")
    assert(got(2L) == ((0, 0, 0,
      "no pii here, just 1.2 numbers and at signs @ alone")))
  }

  test("scrubPii: counts reconcile with redactions on nested/edge matches") {
    val df = Seq(
      (1L, "visit http://10.0.0.1/home now"),      // IP inside URL
      (2L, "docs (see https://x.io/guide)."),      // trailing punctuation
      (3L, "upgrade to spark 4.0.0.1999 build"),   // not a valid IPv4
      (4L, "peer at 256.1.1.1 vs 255.255.255.255") // octet range check
    ).toDF("doc_id", "text")
    val got = TextOps.scrubPii(df, "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_emails"), r.getAs[Int]("n_urls"),
          r.getAs[Int]("n_ips"), r.getAs[String]("scrubbed"))).toMap
    // the URL consumes its embedded IP: ONE <URL>, zero phantom n_ips
    assert(got(1L) == ((0, 1, 0, "visit <URL> now")))
    // sentence punctuation stays outside the redaction
    assert(got(2L) == ((0, 1, 0, "docs (see <URL>).")))
    assert(got(3L) == ((0, 0, 0, "upgrade to spark 4.0.0.1999 build")))
    assert(got(4L)._3 == 1)
    assert(got(4L)._4 == "peer at 256.1.1.1 vs <IP>")
  }

  test("unigramSurprisal: rare-token docs score higher; values match a " +
      "hand-computed corpus distribution") {
    val df = Seq(
      (1L, "aa aa aa aa"),     // only common tokens
      (2L, "aa aa zz qq")      // half rare tokens
    ).toDF("doc_id", "text")
    val got = TextOps.unigramSurprisal(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Double]("avg_surprisal"))).toMap
    // corpus: aa×6, zz×1, qq×1, N=8
    val ln = (x: Double) => math.log(x)
    val exp1 = -ln(6.0 / 8)
    val exp2 = (2 * -ln(6.0 / 8) + -ln(1.0 / 8) + -ln(1.0 / 8)) / 4
    assert(got(1L)._1 == 4L && math.abs(got(1L)._2 - exp1) < 1e-9)
    assert(got(2L)._1 == 4L && math.abs(got(2L)._2 - exp2) < 1e-9)
    assert(got(2L)._2 > got(1L)._2, "rare tokens must raise surprisal")
  }

  test("topTerms keeps n best per doc, ties broken by term") {
    val df = Seq((1L, "aa bb cc dd"), (2L, "aa bb")).toDF("doc_id", "text")
    // doc1: cc/dd unique (ln2 each), aa/bb shared (0) — top-2 must be the
    // unique terms in term order; top-3 adds 'aa' before 'bb'
    val top3 = TextOps.topTerms(df, "doc_id", "text", 3)
      .filter(col("doc_id") === 1).select("term").as[String].collect().toSet
    assert(top3 == Set("cc", "dd", "aa"))
  }

  test("collocations: PMI matches the hand-computed value; minCount filters") {
    val df = Seq((1L, "a b a b"), (2L, "a b c")).toDF("doc_id", "text")
    // bigrams: (a,b)×3, (b,a)×1, (b,c)×1; unigrams a×3 b×3 c×1;
    // N_uni=7, N_bi=5 → PMI(a,b) = ln(3·7²/(5·3·3)) = ln(147/45)
    val got = TextOps.collocations(df, "text", 2L).collect()
    assert(got.length == 1)
    val r = got.head
    assert((r.getString(0), r.getString(1), r.getLong(2)) == ("a", "b", 3L))
    val want = math.log(3.0) + 2 * math.log(7.0) - math.log(5.0) -
      math.log(3.0) - math.log(3.0)
    assert(math.abs(r.getDouble(3) - want) < 1e-6)
  }

  test("collocations: single-token and empty docs contribute no bigrams") {
    val df = Seq((1L, "solo"), (2L, "x y"), (3L, "x y")).toDF("doc_id", "text")
    val got = TextOps.collocations(df, "text", 2L).collect()
    assert(got.map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSeq == Seq(("x", "y", 2L)))
  }

  test("charEntropy: hand-computed values — uniform pair, constant, empty") {
    val df = Seq(
      (1L, "aabb"),       // two symbols, p=1/2 each → ln 2
      (2L, "aaaa"),       // single symbol → 0
      (3L, ""),           // empty → 0 (no NaN from 0/0)
      (4L, "!!!!")        // all outside the alphabet → one 'other' bucket → 0
    ).toDF("doc_id", "text")
    val got = TextOps.charEntropy(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got(0)._2 == 4L)
    assert(math.abs(got(0)._3 - math.log(2.0)) < 1e-6)
    assert(got(1)._3 == 0.0)
    assert(got(2) == ((3L, 0L, 0.0)))
    assert(got(3)._3 == 0.0, "non-alphabet chars pool into one bucket")
  }

  test("charEntropy: mixed alphabet + other matches the direct formula") {
    // "ab!?" normalized: a, b, !, ? → counts a=1 b=1 other=2, L=4
    val df = Seq((1L, "ab!?")).toDF("doc_id", "text")
    val got = TextOps.charEntropy(df, "doc_id", "text").collect().head
    val want = -(0.25 * math.log(0.25)) * 2 - 0.5 * math.log(0.5)
    assert(math.abs(got.getDouble(2) - want) < 1e-6)
  }

  test("charEntropy is shuffle-free (no Exchange in the plan)") {
    val df = Seq((1L, "abc")).toDF("doc_id", "text")
    val plan = TextOps.charEntropy(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  private def hashWeight(t: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      .substring(0, 15)
    java.lang.Long.parseLong(hex, 16) % 2001 - 1000
  }

  test("hashedLinearScore matches the hand formula; keep ⇔ positive " +
      "integer weight sum (bit-exact, no float boundary)") {
    val df = Seq((1L, "Alpha"), (2L, "alpha alpha beta"))
      .toDF("doc_id", "text")
    val got = TextOps.hashedLinearScore(df, "doc_id", "text")
      .orderBy("doc_id").collect()
    val wa = hashWeight("alpha")
    val wb = hashWeight("beta")
    // doc 1: one token (normalized lowercase)
    assert(got(0).getAs[Long]("n_terms") == 1L)
    assert(got(0).getAs[Double]("score_r") ==
      BigDecimal(wa / 1000.0).setScale(9, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)
    assert(got(0).getAs[Boolean]("keep") == (wa > 0))
    // doc 2: wsum = 2*w(alpha) + w(beta) over 3 terms
    val wsum = 2 * wa + wb
    assert(got(1).getAs[Long]("n_terms") == 3L)
    assert(math.abs(got(1).getAs[Double]("score_r")
      - wsum / 3000.0) < 1e-9)
    assert(got(1).getAs[Boolean]("keep") == (wsum > 0))
  }

  test("bpePairCounts: pair frequency weighted by word instances; " +
      "single-char words contribute nothing; (count desc, pair) order") {
    val df = Seq((1L, "ab ab abc"), (2L, "x ba")).toDF("doc_id", "text")
    // words: ab, ab, abc, ba (x dropped) -> ab:2+1(from abc), bc:1, ba:1
    val got = TextOps.bpePairCounts(df, "text", 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == Seq(("ab", 3L), ("ba", 1L), ("bc", 1L)))
  }

  test("hashedLinearScore is shuffle-free (no Exchange: the corpus is " +
      "never reshuffled to be scored)") {
    val df = Seq((1L, "some text here")).toDF("doc_id", "text")
    val plan = TextOps.hashedLinearScore(df, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("chunkWindows: window boundaries, overlap, short tail, " +
      "single-token and empty text") {
    val df = Seq(
      (1L, "A  b c d E f g"), // normalizes to 7 tokens
      (2L, "x"),
      (3L, "   ")             // trims to "" → the one empty token
    ).toDF("doc_id", "text")
    val got = TextOps.chunkWindows(df, "doc_id", "text",
        chunkTokens = 4, overlap = 2)
      .orderBy("doc_id", "chunk_idx").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got == Seq(
      (1L, 0L, 0L, 4L, "a b c d"),
      (1L, 1L, 2L, 4L, "c d e f"),
      (1L, 2L, 4L, 3L, "e f g"),   // tail shorter than the window
      (1L, 3L, 6L, 1L, "g"),
      (2L, 0L, 0L, 1L, "x"),
      (3L, 0L, 0L, 1L, "")         // split-on-space of "" is [""]
    ), s"got=$got")
  }

  test("chunkWindows is shuffle-free (per-row sequence/slice only)") {
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val plan = TextOps.chunkWindows(df, "doc_id", "text", 3, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("bigramSurprisal: hand-computed add-k model; improbable word " +
      "ORDER outscores the same words in corpus order; <2-token docs " +
      "are omitted") {
    val df = Seq(
      (1L, "a b c a b c a b c"),  // the dominant cycle: common bigrams
      (2L, "b a"),                // the rare reversal
      (3L, "a")                   // no bigrams
    ).toDF("doc_id", "text")
    // bigrams: doc1 (a,b)×3, (b,c)×3, (c,a)×2; doc2 (b,a)×1
    // contexts (bigram starts): c(a·)=3, c(b·)=4, c(c·)=2; V=3, k=0.5
    val kV = 0.5 * 3
    val pAB = (3 + 0.5) / (3 + kV)
    val pBC = (3 + 0.5) / (4 + kV)
    val pCA = (2 + 0.5) / (2 + kV)
    val pBA = (1 + 0.5) / (4 + kV)
    val exp1 =
      (3 * -math.log(pAB) + 3 * -math.log(pBC) + 2 * -math.log(pCA)) / 8
    val exp2 = -math.log(pBA)
    val got = TextOps.bigramSurprisal(df, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_nll"))).toMap
    assert(got.keySet == Set(1L, 2L), "1-token doc must be omitted")
    assert(got(1L)._1 == 8L && math.abs(got(1L)._2 - exp1) < 1e-9)
    assert(got(2L)._1 == 1L && math.abs(got(2L)._2 - exp2) < 1e-9)
    // a doc written against the corpus's dominant transition scores
    // higher per-bigram than the mixed-order doc
    assert(got(2L)._2 > got(1L)._2)
  }

  /** JVM model of robust winnowing over word k-grams with the op's md5
    * hash: per window of w k-gram hashes, select (min h, rightmost pos). */
  private def winnowModel(text: String, k: Int, w: Int): Set[(Long, Long)] = {
    val toks = text.trim.toLowerCase.split("\\s+").toSeq
    val hs = toks.sliding(k).filter(_.size == k).map { g =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(g.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }.toIndexedSeq
    if (hs.isEmpty) Set.empty
    else (0 to math.max(hs.size - w, 0)).map { i =>
      val win = hs.slice(i, i + w).zipWithIndex
      val minH = win.map(_._1).min
      val pos = win.filter(_._1 == minH).map(_._2 + i).max
      (minH, pos.toLong)
    }.toSet
  }

  test("winnowFingerprints == JVM model (rightmost-min tie-break, " +
      "window-start clamp); short docs give one truncated window; " +
      "sub-k docs give nothing") {
    val repeat = "x y z " * 3 + "tail"     // identical k-grams in-window
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, repeat.trim),
      (3L, "a b c d"),                     // 2 k-grams < w: one window
      (4L, "a b")                          // shorter than k: no k-grams
    )
    val got = TextOps
      .winnowFingerprints(docs.toDF("doc_id", "text"), "doc_id", "text",
        3, 4)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) =>
        id -> rs.map(r =>
          (r.getAs[Long]("fp_hash"), r.getAs[Long]("fp_pos"))).toSet }
    docs.foreach { case (id, text) =>
      val want = winnowModel(text, 3, 4)
      assert(got.getOrElse(id, Set.empty) == want,
        s"doc $id: got ${got.getOrElse(id, Set.empty)} want $want")
    }
    assert(!got.contains(4L), "doc shorter than k must yield no rows")
  }

  test("winnowing guarantee: any shared token run of >= w + k - 1 " +
      "shares at least one fingerprint hash") {
    val rnd = new scala.util.Random(11)
    def words(n: Int) = Seq.fill(n)("w" + rnd.nextInt(50)).mkString(" ")
    val shared = words(6) // w + k - 1 = 6 tokens
    val docs = (1L to 8L).map { i =>
      (i, s"${words(rnd.nextInt(20))} $shared ${words(rnd.nextInt(20))}")
    }
    val fps = TextOps
      .winnowFingerprints(docs.toDF("doc_id", "text"), "doc_id", "text",
        3, 4)
      .collect()
      .groupBy(_.getAs[Long]("doc_id"))
      .map { case (id, rs) => id -> rs.map(_.getAs[Long]("fp_hash")).toSet }
    val common = (1L to 8L).map(fps(_)).reduce(_ intersect _)
    assert(common.nonEmpty,
      "docs sharing a >= w+k-1 run must share a fingerprint")
  }

  test("ngramNovelty: corpus-unique grams counted, shared ones not; " +
      "within-doc repeats collapse to one distinct gram") {
    val docs = Seq(
      (0L, "a b c"),    // bigrams {a b, b c}: 'a b' shared, 'b c' unique
      (1L, "a b d"),    // {a b, b d}: 'b d' unique
      (2L, "p q p q")   // {p q, q p}: both unique, repeat counted once
    ).toDF("doc_id", "text")
    val got = TextOps.ngramNovelty(docs, "doc_id", "text", 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_novel"), r.getAs[Double]("novel_r"))).toSeq
    assert(got == Seq((0L, 2L, 1L, 0.5), (1L, 2L, 1L, 0.5),
      (2L, 2L, 2L, 1.0)))
  }

  test("ngramNovelty: docs shorter than n contribute no grams and no " +
      "output row") {
    val docs = Seq((0L, "alpha beta"), (1L, "solo"))
      .toDF("doc_id", "text")
    val got = TextOps.ngramNovelty(docs, "doc_id", "text", 2)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(got == Seq(0L))
  }

  test("gopherRules: hand docs hit the right rules, and every rule " +
      "conserves the doc count") {
    import spark.implicits._
    // 70 tokens, mean word length 4, 20% stopwords, all alphabetic
    val good =
      ("the quick brown fox jumps over the lazy dog again " * 7).trim
    val short = "tiny doc"                                // fails count
    val symbols = good + " " + ("@#$%^&* " * 40).trim     // symbol-heavy
    val docs = Seq((1L, good), (2L, short), (3L, symbols))
      .toDF("doc_id", "text")
    val byRule = TextOps.gopherRules(docs, "doc_id", "text").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byRule.size == 6)
    assert(byRule.values.forall { case (p, f) => p + f == 3L },
      "doc conservation per rule")
    // short doc fails 1_token_count; the other two pass it
    assert(byRule("1_token_count")._1 == 2L, byRule.toString)
    // the symbol-heavy doc fails 3_symbol_ratio; good + short pass
    assert(byRule("3_symbol_ratio")._1 == 2L, byRule.toString)
    // only the all-stopword doc passes everything
    assert(byRule("6_all")._1 == 1L, byRule.toString)
  }

  test("kneserNeyBigrams: hand corpus matches closed-form P_KN and the " +
      "seen-successor mass sums to 1 when all continuations are seen") {
    import spark.implicits._
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a c"))
      .toDF("doc_id", "text")
    val got = TextOps.kneserNeyBigrams(docs, "doc_id", "text", 0.75, 10)
      .orderBy("w1", "w2").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    // bc: (a,b)=2 (a,c)=1; c(a·)=3, N1+(a,·)=2, N1+(·,b)=N1+(·,c)=1,
    // N1+(··)=2 → P(b|a)=(1.25+0.75·2·0.5)/3=2/3, P(c|a)=1/3
    assert(got.length == 2, got.toSeq)
    assert(got(0)._1 == "a" && got(0)._2 == "b" && got(0)._3 == 2L)
    assert(math.abs(got(0)._4 - 2.0 / 3) < 1e-8, got(0).toString)
    assert(math.abs(got(1)._4 - 1.0 / 3) < 1e-8, got(1).toString)
    assert(math.abs(got.map(_._4).sum - 1.0) < 1e-8, "context-a mass")
  }

  test("scoreCalibration: bins stay in range, docs are conserved, and " +
      "keep counts agree with hashedLinearScore") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (0L until 50L)
      .map(i => (i, s"w$i x${i % 7} y${i % 3} z", i % 2 == 0))
      .toDF("doc_id", "text", "label")
    val cal = TextOps.scoreCalibration(docs, "doc_id", "text",
      col("label"), bins = 10).collect()
    assert(cal.map(_.getLong(0)).forall(b => b >= 0 && b <= 9))
    assert(cal.map(_.getLong(2)).sum == 50L, "docs conserved")
    val keepTotal = TextOps.hashedLinearScore(docs, "doc_id", "text")
      .where(col("keep")).count()
    assert(cal.map(_.getLong(5)).sum == keepTotal, "keep cross-check")
    // rates are exact integer ratios
    cal.foreach { r =>
      assert(r.getDouble(4) ==
        math.rint(r.getLong(3).toDouble / r.getLong(2) * 1e6) / 1e6)
    }
  }

  // classify candidate tokens by the SAME boundary rule contentChunks
  // uses, so the CDC tests can construct docs with known chunk edges
  private def boundarySplit(mod: Int): (Seq[String], Seq[String]) = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val cand = (0 until 200).map(i => s"w$i").toDF("t")
      .withColumn("b", TextOps.hash60(col("t")) % mod === 0)
      .collect().map(r => (r.getString(0), r.getBoolean(1)))
    (cand.filter(_._2).map(_._1).toSeq, cand.filterNot(_._2).map(_._1).toSeq)
  }

  test("contentChunks: term conservation, boundary token ends its " +
      "chunk, identical docs get identical fingerprints") {
    import spark.implicits._
    val (bs, ns) = boundarySplit(8)
    assert(bs.nonEmpty, "no boundary token among 200 candidates")
    val b = bs.head
    val Seq(t1, t2, t3, t4) = ns.take(4)
    val text = s"$t1 $t2 $b $t3 $t4"
    val docs = Seq((1L, text), (2L, text)).toDF("doc_id", "text")
    val ch = TextOps.contentChunks(docs, "doc_id", "text", 8)
      .orderBy("doc_id", "chunk_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // two chunks per doc: [t1 t2 b] and [t3 t4]
    assert(ch.length == 4, ch.toSeq)
    assert(ch.map(_._3).sum == 10L, "terms not conserved")
    assert(ch.filter(_._1 == 1L).map(c => (c._2, c._3)).toSeq
      == Seq((0L, 3L), (1L, 2L)), ch.toSeq)
    // identical docs → identical fingerprint sequences
    assert(ch.filter(_._1 == 1L).map(_._4).toSeq
      == ch.filter(_._1 == 2L).map(_._4).toSeq)
  }

  test("contentChunks: CDC resync — docs with different prefixes share " +
      "the post-boundary chunk fingerprint") {
    import spark.implicits._
    val (bs, ns) = boundarySplit(8)
    val b = bs.head
    val Seq(t1, t2, t3, t4, t5, t6) = ns.take(6)
    val docs = Seq(
      (1L, s"$t1 $t2 $b $t5 $t6"),
      (2L, s"$t3 $t4 $t1 $b $t5 $t6")).toDF("doc_id", "text")
    val ch = TextOps.contentChunks(docs, "doc_id", "text", 8).collect()
      .map(r => (r.getLong(0), r.getString(3)))
    val shared = ch.filter(_._1 == 1L).map(_._2)
      .intersect(ch.filter(_._1 == 2L).map(_._2))
    // the "t5 t6" suffix chunk re-synchronizes despite shifted offsets
    assert(shared.length == 1, ch.toSeq.toString)
  }

  test("distinctNgramRatio: hand counts for n=1..3; docs shorter than n " +
      "contribute no grams (sequence(1,0) guard)") {
    import spark.implicits._
    val df = Seq(("g", "a b a b"), ("h", "x")).toDF("grp", "text")
    val got = TextOps.distinctNgramRatio(df, "grp", "text", Seq(1, 2, 3))
      .collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // g: 1-grams 4/2; 2-grams "a b","b a","a b" → 3/2; 3-grams 2/2
    assert(got(("g", 1)) == ((4L, 2L, 0.5)))
    assert(got(("g", 2)) == ((3L, 2L, 0.666667)))
    assert(got(("g", 3)) == ((2L, 2L, 1.0)))
    // h ("x"): only the unigram row exists — no 2/3-grams at all
    assert(got(("h", 1)) == ((1L, 1L, 1.0)))
    assert(!got.contains(("h", 2)) && !got.contains(("h", 3)))
  }

  test("fleschAggregate: hand case — 'Hello world.' scores 77.905; a " +
      "doc with no terminal punctuation still counts one sentence") {
    import spark.implicits._
    val df = Seq(("s", "Hello world."), ("t", "no punctuation here"))
      .toDF("grp", "text")
    val got = TextOps.fleschAggregate(df, "grp", "text").collect()
      .map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    // hello world.: w=2 s=1 y=3 ("e","o","o") →
    // 206.835 − 1.015·2 − 84.6·1.5 = 77.905
    assert(got("s") == ((2L, 1L, 3L, 77.905)), got.toString)
    // w=3, s=greatest(1,0)=1, y: o,u,ua,io,e,e → "o","u","ua","io","e","e"
    val (w2, s2, _, _) = got("t")
    assert(w2 == 3L && s2 == 1L)
  }

  test("rouge2Pairs: hand overlap and clipped counts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x y z w"), (2L, "y z w q"),
      (3L, "x y x y x"), (4L, "x y"))
      .toDF("doc_id", "text")
    val pairs = Seq(("p1", 1L, 2L), ("p2", 3L, 4L))
      .toDF("k", "a", "b")
    val got = TextOps.rouge2Pairs(docs, "doc_id", "text", pairs,
        "k", "a", "b")
      .collect().map(r => r.getString(0) -> r).toMap
    // p1: bigrams a={xy,yz,zw}, b={yz,zw,wq} → overlap 2, all 2/3
    val p1 = got("p1")
    assert(p1.getAs[Long]("n_bi_a") == 3 &&
      p1.getAs[Long]("n_bi_b") == 3 && p1.getAs[Long]("overlap") == 2)
    assert(p1.getAs[Double]("rouge2_recall_r") == 0.666667)
    assert(p1.getAs[Double]("rouge2_f1_r") == 0.666667)
    // p2: a has xy×2, yx×2 (4 bigrams); b has xy×1 → clipped
    // overlap = min(2,1) = 1; recall 1/1, precision 1/4
    val p2 = got("p2")
    assert(p2.getAs[Long]("n_bi_a") == 4 &&
      p2.getAs[Long]("n_bi_b") == 1 && p2.getAs[Long]("overlap") == 1)
    assert(p2.getAs[Double]("rouge2_recall_r") == 1.0)
    assert(p2.getAs[Double]("rouge2_precision_r") == 0.25)
    assert(p2.getAs[Double]("rouge2_f1_r") == 0.4)
  }

  test("bigram ops survive zero- and one-token documents") {
    // slice(t, 1, size(t)-1) with size 0 would be a negative-length
    // slice → runtime crash before the greatest() guard; the oracle's
    // generate_series(1, -1) is gracefully empty — engines must agree
    val docs = Seq(
      (1L, "alpha beta gamma"), (2L, ""), (3L, "   "), (4L, "solo"))
      .toDF("doc_id", "text")
    // per-doc surprisal: degenerate docs have no bigrams → omitted
    val surv = TextOps.bigramSurprisal(docs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(surv == Set(1L))
    // pair eval referencing a bigram-less doc: no crash; the pair is
    // dropped (no totals row), matching the oracle's inner join
    val pairs = Seq((10L, 1L, 2L), (11L, 1L, 1L))
      .toDF("pair_id", "a", "b")
    val got = TextOps.rouge2Pairs(docs, "doc_id", "text", pairs,
      "pair_id", "a", "b").collect()
    assert(got.map(_.getAs[Long]("pair_id")).toSet == Set(11L))
  }

  test("heapsLaw: hand cumulative points and scalar-reference fit") {
    val docs = Seq((1L, "a b"), (2L, "a c"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    // cumulative (N, V): (2,2) → (4,3) → (8,4)
    val pts = Seq((2.0, 2.0), (4.0, 3.0), (8.0, 4.0))
      .map { case (nn, vv) => (math.log(nn), math.log(vv)) }
    val n = pts.size.toDouble
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val beta = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    val k = math.exp((sy - beta * sx) / n)
    val r = TextOps.heapsLaw(docs, "doc_id", "text").collect().head
    assert(r.getAs[Long]("n_docs") == 3)
    assert(r.getAs[Long]("n_tokens") == 8)
    assert(r.getAs[Long]("n_types") == 4)
    assert(math.abs(r.getAs[Double]("beta_r") - beta) < 1e-5)
    assert(math.abs(r.getAs[Double]("k_r") - k) < 1e-4)
    assert(r.getAs[Double]("beta_r") > 0 && r.getAs[Double]("beta_r") < 1)
  }

  test("textRank: hub token ranks first; short tokens are filtered " +
      "BEFORE adjacency (the classic windowing)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha gamma"),
      (2L, "ab alpha beta")) // "ab" < minLen: alpha-beta stay adjacent
      .toDF("doc_id", "text")
    val got = TextOps.textRank(docs, "doc_id", "text", iters = 6,
      damping = 0.85, minLen = 4, topK = 10).collect()
      .sortBy(_.getAs[Int]("rn"))
    assert(got.length == 3)
    assert(got.head.getAs[String]("term") == "alpha")
    val scores = got.map(_.getAs[Double]("score_r"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // symmetric graph, no dangling nodes: total rank mass stays ~1
    assert(math.abs(scores.sum - 1.0) < 1e-6, scores.toSeq.toString)
  }

  test("textRank: driver-local recursion ≡ distributed fallback " +
      "(edge-cap valve forces the over-valve path)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta alpha gamma delta alpha"),
      (2L, "ab alpha beta gamma gamma beta"),
      (3L, "delta epsilon alpha beta zeta")).toDF("doc_id", "text")
    val local = TextOps.textRank(docs, "doc_id", "text", iters = 4,
      damping = 0.85, minLen = 4, topK = 10).collect()
      .map(r => (r.getAs[Int]("rn"), r.getAs[String]("term"),
        r.getAs[Double]("score_r"))).toSeq
    val key = "spark.graft.driverLocal.textrankEdgeCap"
    spark.conf.set(key, "0") // force the distributed fallback
    val dist = try TextOps.textRank(docs, "doc_id", "text", iters = 4,
      damping = 0.85, minLen = 4, topK = 10).collect()
      .map(r => (r.getAs[Int]("rn"), r.getAs[String]("term"),
        r.getAs[Double]("score_r"))).toSeq
    finally spark.conf.unset(key)
    assert(local == dist, s"local=$local dist=$dist")
    assert(local.nonEmpty)
  }

  test("textRank: the driver-local path's edge collect adds no job") {
    val docs = Seq(
      (1L, "alpha beta alpha gamma delta alpha"),
      (2L, "ab alpha beta gamma gamma beta"),
      (3L, "delta epsilon alpha beta zeta")).toDF("doc_id", "text")
    val jobs = jobCount(TextOps.textRank(docs, "doc_id", "text", iters = 4,
      damping = 0.85, minLen = 4, topK = 10).collect())
    info(s"jobs: $jobs")
    assert(jobs == 6,
      s"$jobs jobs (6 before the valve moved onto DriverLocal)")
  }

  test("bpeTrain: merge sequence on a hand vocab, lexicographic " +
      "ties, and the documented left-to-right run semantics") {
    import spark.implicits._
    val docs = Seq("aaab aaab ab").toDF("text")
    val got = TextOps.bpeTrain(docs, "text", 4).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("pair"),
        r.getAs[String]("merged"), r.getAs[Long]("n")))
    // round 4 finds no pair (everything merged) -> emits no row
    assert(got.toSeq == Seq((1, "a a", "aa", 4L), (2, "a b", "ab", 3L),
      (3, "aa ab", "aaab", 2L)), got.mkString(";"))
    // run-of-repeats: "aaaa" merges left-to-right non-overlapping
    // ("aa a a" after round 1, NOT "aa aa" - the documented replace
    // semantics both engines share)
    val runs = Seq("aaaa").toDF("text")
    val got2 = TextOps.bpeTrain(runs, "text", 3).collect()
      .map(r => (r.getAs[Int]("round"), r.getAs[String]("pair"),
        r.getAs[Long]("n")))
    assert(got2.toSeq == Seq((1, "a a", 3L), (2, "a a", 1L),
      (3, "aa aa", 1L)), got2.mkString(";"))
  }

  test("burrowsDelta: identical sources have Delta 0; a divergent " +
      "source is farther from both") {
    import spark.implicits._
    val docs = Seq(
      ("s1", "alpha beta alpha beta gamma"),
      ("s2", "alpha beta alpha beta gamma"),
      ("s3", "delta delta delta epsilon epsilon"))
      .toDF("source", "text")
    val got = TextOps.burrowsDelta(docs, "source", "text", 5)
      .collect().map(r => (r.getAs[String]("source_a"),
        r.getAs[String]("source_b")) -> r.getAs[Double]("delta_r"))
      .toMap
    assert(got.size == 3)
    assert(got(("s1", "s2")) == 0.0, got.toString)
    assert(got(("s1", "s3")) > 1.0)
    assert(got(("s1", "s3")) == got(("s2", "s3")))
  }

  test("goodTuring: hand 1-gram corpus — r* = (r+1) N_{r+1}/N_r and " +
      "P0 = N1/N") {
    // unigrams (n = 1): counts a:3 b:2 c:2 d:1 e:1 f:1 -> N=10,
    // N_1=3, N_2=2, N_3=1; rows for r=1 (r*=2*2/3) and r=2 (r*=3*1/2)
    val docs = Seq((1L, "a a a b b c c d e f"))
      .toDF("doc_id", "text")
    val got = TextOps.goodTuring(docs, "doc_id", "text", maxR = 10,
      n = 1).collect().map(r => r.getAs[Long]("r") ->
        (r.getAs[Double]("r_star_r"), r.getAs[Double]("p0_r"))).toMap
    assert(got.keySet == Set(1L, 2L), got.toString)
    assert(math.abs(got(1L)._1 - 2.0 * 2 / 3) < 1e-6)
    assert(math.abs(got(2L)._1 - 3.0 * 1 / 2) < 1e-6)
    assert(math.abs(got(1L)._2 - 0.3) < 1e-6) // P0 = 3/10
  }

  test("chao1Richness: hand unigram group — bias-corrected Chao1 and " +
      "Good's coverage") {
    // group g: counts a:1 b:1 c:2 d:3 -> V=4, N=7, f1=2, f2=1
    // chao1 = 4 + 2*1/(2*2) = 4.5 ; coverage = 1 - 2/7
    val docs = Seq(("g", "a b c c d d d")).toDF("source", "text")
    val got = TextOps.chao1Richness(docs, "source", "text", n = 1)
      .collect()(0)
    assert(got.getAs[Long]("n_types") == 4L)
    assert(got.getAs[Long]("f1") == 2L && got.getAs[Long]("f2") == 1L)
    assert(math.abs(got.getAs[Double]("chao1_r") - 4.5) < 1e-6)
    assert(math.abs(got.getAs[Double]("coverage_r") - (1 - 2.0 / 7))
      < 1e-5)
  }

  test("termBurstiness: a clumping term gets burstiness > 1 and " +
      "adaptation > 0; an evenly spread term gets exactly 1 and 0; " +
      "unseen terms zero-fill with null ratios") {
    import spark.implicits._
    val docs = Seq(
      (1L, "spark spark spark other"),
      (2L, "spark plain words here"),
      (3L, "merge words"),
      (4L, "merge again")
    ).toDF("doc_id", "text")
    val got = TextOps.termBurstiness(docs, "doc_id", "text",
        Seq("merge", "spark", "zebra")).collect()
      .map(r => r.getAs[String]("term") -> r).toMap
    val sp = got("spark") // df 2, cf 4, multi 1
    assert(sp.getAs[Long]("df") == 2 && sp.getAs[Long]("cf") == 4)
    assert(sp.getAs[Double]("burstiness_r") == 2.0)
    assert(sp.getAs[Double]("adaptation_r") == 0.5)
    val mg = got("merge") // df 2, cf 2, multi 0
    assert(mg.getAs[Double]("burstiness_r") == 1.0)
    assert(mg.getAs[Double]("adaptation_r") == 0.0)
    val zb = got("zebra")
    assert(zb.getAs[Long]("df") == 0)
    assert(zb.isNullAt(zb.fieldIndex("burstiness_r")))
  }

  test("hapaxAttribution: the slice owning all unique vocabulary " +
      "gets lift > 1; shares sum to 1") {
    import spark.implicits._
    // source a: 8 tokens, all repeats of two words (0 hapax)
    // source b: 4 tokens, 2 of them globally unique
    val docs = Seq(
      ("a", "x y x y"), ("a", "x y x y"),
      ("b", "x qq zz y")
    ).toDF("source", "text")
    val got = TextOps.hapaxAttribution(docs, "text", "source")
      .collect().map(r => r.getAs[String]("source") -> r).toMap
    assert(got("a").getAs[Long]("n_tokens") == 8)
    assert(got("a").getAs[Long]("n_hapax") == 0)
    assert(got("b").getAs[Long]("n_hapax") == 2)
    assert(got("b").getAs[Double]("hapax_share_r") == 1.0)
    // lift(b) = 1.0 / (4/12) = 3
    assert(got("b").getAs[Double]("lift_r") == 3.0)
    assert(got("a").getAs[Double]("lift_r") == 0.0)
  }
}
