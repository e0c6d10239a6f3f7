package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The hot-bucket valve in [[Dedup.bandJoin]] under pathological key
  * skew (VERDICT r5 ask #6): one band key carried by most of the input
  * must be dropped BEFORE the self-join — the join's output is quadratic
  * in bucket size, so an uncapped hot key is the one way the LSH
  * candidate join can blow up at scale. q134 runs the same shape against
  * the DuckDB oracle; here we pin the plan and the exact pair set.
  */
class SkewValveSpec extends SparkTestBase {
  import spark.implicits._

  // 100 ids: 80 share bucket HOT, two cold buckets of 10 each
  private def bands() = (0L until 100L).map { id =>
    val bk = if (id % 5 != 0) "HOT"
    else if (id < 50) "c0" else "c1"
    (id, 0, bk)
  }.toDF("id", "band", "bk")

  test("hot bucket above maxBucket is dropped; cold buckets pair " +
      "exactly (≡ brute force over surviving buckets)") {
    val got = Dedup.bandJoin(bands(), "id", "doc_a", "doc_b",
        maxBucket = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cold = (0L until 100L).filter(_ % 5 == 0)
    val want = (for {
      a <- cold; b <- cold
      if a < b && ((a < 50) == (b < 50))
    } yield (a, b)).toSet
    assert(got == want,
      s"expected only cold-bucket pairs (${want.size}), got ${got.size}")
    assert(want.size == 2 * 45, "two buckets of 10 → C(10,2) each")
  }

  test("the valve sits UPSTREAM of the join: plan shows the count " +
      "window + filter feeding the self-join, not a post-join prune") {
    val df = Dedup.bandJoin(bands(), "id", "doc_a", "doc_b",
      maxBucket = 64L)
    val plan = df.queryExecution.optimizedPlan
    // the filter on the window count must exist somewhere BELOW a join:
    // walk the logical plan and require a Join whose subtree contains
    // the _n <= maxBucket filter
    val joins = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.nonEmpty)
    val guarded = joins.exists(_.collect {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter
        if f.condition.toString.contains("_n") => f
    }.nonEmpty)
    assert(guarded,
      s"bucket-size filter must feed the join, plan:\n$plan")
  }

  test("with the cap lifted the hot bucket pairs quadratically " +
      "(the blow-up the valve exists to prevent)") {
    val n = Dedup.bandJoin(bands(), "id", "doc_a", "doc_b",
      maxBucket = 1000000L).count()
    // 80 hot ids → C(80,2) plus the two cold C(10,2)s
    assert(n == 80L * 79 / 2 + 2 * 45,
      s"uncapped pair count should include the hot bucket, got $n")
  }

  // the near-dup trunk applies the same valve: 6 verbatim copies of one
  // doc collide in all 4 bands (buckets of 6), beside a 3-member
  // near-dup family and unique docs
  private def hotDocs() = {
    val rnd = new scala.util.Random(134L)
    def words(n: Int) = Seq.fill(n)(s"w${rnd.nextInt(5000)}")
    val hot = words(40)
    val fam = words(40)
    val texts = Seq.fill(6)(hot) ++
      Seq(fam, fam.updated(3, "e1"), fam.updated(7, "e2")) ++
      Seq.fill(20)(words(40))
    texts.zipWithIndex.map { case (t, i) => (i.toLong + 1, t.mkString(" ")) }
      .toDF("doc_id", "text")
  }

  test("near-dup trunk drops a hot bucket before gathering its members, " +
      "exactly as bandJoin's valve does") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val docs = hotDocs()
    val got = pairs(Dedup.verifiedPairsOf(docs, "doc_id", "text", 0.5,
      maxBucket = 5L))
    val sh = Dedup.shingleTable(docs, "doc_id", "text")
    val cand = Dedup.bandJoin(Dedup.bandTable(
      Dedup.minhashFromShingles(sh, "doc_id"), "doc_id"),
      "doc_id", "doc_a", "doc_b", maxBucket = 5L)
    val want = pairs(Dedup.jaccardOnSets(Dedup.docShingleSets(sh, "doc_id"),
        cand, "doc_id")
      .filter(col("jaccard") >= 0.5).select("doc_a", "doc_b"))
    assert(got == want)
    // only family pairs survive (which of them collide is LSH's draw)
    assert(got.nonEmpty && got.forall { case (a, b) => a >= 7 && b <= 9 },
      got.toString)
    val uncapped = pairs(Dedup.verifiedPairsOf(docs, "doc_id", "text", 0.5))
    assert(uncapped -- got == (for (a <- 1L to 6L; b <- a + 1 to 6L)
      yield (a, b)).toSet)
  }

  test("near-dup trunk plan: the count window + filter sit below the " +
      "per-bucket aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
      Window}
    val plan = Dedup.verifiedPairsOf(hotDocs(), "doc_id", "text", 0.5)
      .queryExecution.optimizedPlan
    val guarded = plan.collect { case a: Aggregate => a }.exists(_.exists {
      case f: Filter => f.condition.toString.contains("_n") &&
        f.exists(_.isInstanceOf[Window])
      case _ => false
    })
    assert(guarded, s"the valve must feed the bucket aggregate:\n$plan")
  }
}
