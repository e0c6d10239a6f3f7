package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** A benchmark workload: seeded inputs, one closed-loop iteration of timed
  * operations with output checks, and a traced per-layer pass. */
trait Workload {
  /** Writes the seeded inputs and their ground truth (untimed). */
  def generate(): Unit
  /** Loads the inputs a session needs in memory (part of set-up). */
  def load(spark: SparkSession): Unit
  /** One iteration of timed operations; each output is checked. */
  def iteration(spark: SparkSession, client: Client, checks: Checks): Unit
  /** Iterations a measurement makes at least, whatever `--seconds` says, so
    * that every run takes its medians over the same number of samples. */
  def minIterations: Int = 1
  /** The workload-neutral end-to-end metrics, from the client's samples. */
  def endToEnd(client: Client): Seq[Metric]
  /** The same numbers under this workload's own names, for the report. */
  def report(client: Client): Seq[String]
  /** Feeds each layer a materialized input, calls its public function and
    * forces the output to the no-op sink, under spans of the tracer. */
  def layers(spark: SparkSession, tracer: Tracer, checks: Checks): Seq[Metric]
}

object Main {
  val Cores = 4
  val SetupRounds = 2

  def make(name: String, scale: String, seed: Long, dir: Path): Workload =
    name match {
      case "daily_etl" => new EtlWorkload(scale, seed, dir)
      case "corpus_curation" => new CorpusWorkload(scale, seed, dir)
      case "vector_search" => new VectorWorkload(scale, seed, dir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

  /** Every per-layer metric name with its unit; a workload reports 0 for
    * the layers it does not call. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "source.pages" -> "count", "source.input_partitions" -> "count",
    "source.parse_s" -> "s",
    "etl.dedup_s" -> "s", "etl.sink_scan_s" -> "s", "etl.antijoin_s" -> "s",
    "etl.enrich_s" -> "s", "etl.new_id_frac" -> "frac",
    "sink.append_s" -> "s", "sink.overwrite_s" -> "s", "sink.files" -> "count",
    "sink.bytes" -> "B",
    "textops.quality_s" -> "s", "dedup.exact_s" -> "s", "dedup.shingle_s" -> "s",
    "dedup.shingles" -> "count", "dedup.minhash_s" -> "s", "dedup.band_s" -> "s",
    "dedup.candidate_pairs" -> "count", "dedup.verify_s" -> "s",
    "dedup.verified_pairs" -> "count", "dedup.candidate_yield" -> "frac",
    "dedup.valve_dropped_docs" -> "count", "dedup.components_s" -> "s",
    "curation.split_s" -> "s",
    "similarity.kmeans_step_s" -> "s", "similarity.assign_s" -> "s",
    "similarity.exact_topk_s" -> "s", "similarity.exact_sims" -> "count",
    "similarity.ivf_topk_s" -> "s", "similarity.ivf_scored_frac" -> "frac",
    "similarity.cell_skew" -> "ratio")

  def session(root: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.default.parallelism", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "10485760")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .config("spark.hadoop.hadoop.tmp.dir", root.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val work = Paths.get(opt("work")).toAbsolutePath
    val scale = opts.getOrElse("scale", "full")
    lazy val seed = opt("seed").toLong

    if (opts.contains("train")) return train(work)
    if (opts.contains("selftest")) {
      val dir = work.resolve("data").resolve("selftest")
      deleteTree(dir)
      val spark = session(work)
      val wrong = try SelfTest.run(spark, dir) finally spark.stop()
      println(s"[selftest] $wrong wrong verdicts")
      sys.exit(if (wrong == 0) 0 else 1)
    }
    opts.get("gen-only") match {
      case Some(name) =>
        make(name, scale, seed, Paths.get(opt("gen-dir"))).generate()
        return
      case None =>
    }
    val name = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"

    val data = work.resolve("data")
    deleteTree(data)
    val w = make(name, scale, seed, data.resolve("run"))
    w.generate()

    // set-up: session start, input load and an untimed warm-up iteration on
    // the run's own inputs, SetupRounds times (the first in a cold JVM); the
    // last session is the one measured, so timing starts warm
    var spark: SparkSession = null
    val setups = (1 to SetupRounds).map { i =>
      val t0 = System.nanoTime()
      spark = session(work)
      System.err.println(f"[perfbench] session start $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      w.load(spark)
      w.iteration(spark, new Client(None, sampleHeap = false),
        new Checks(active = false))
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] set-up $i: $dt%.3f s")
      if (i < SetupRounds) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      dt
    }
    val checks = new Checks
    val correct = try {
      val (attempted, failed, metrics) =
        if (!trace) {
          val c = new Client(None)
          val t0 = System.nanoTime()
          var n = 0
          while (n < w.minIterations || (System.nanoTime() - t0) / 1e9 < seconds) {
            w.iteration(spark, c, checks)
            n += 1
          }
          System.err.println(s"[perfbench] $name: $n iterations in " +
            f"${(System.nanoTime() - t0) / 1e9}%.1f s")
          w.report(c).foreach(l => println(s"$name.$l"))
          (c.attempted, c.failed, Seq(
            Metric("setup_s", Stats.median(setups), "s"),
            Metric("ops_ok_frac",
              (c.attempted - c.failed).toDouble / c.attempted, "frac"),
            Metric("peak_heap_mb", c.peakHeapMb, "MB")) ++ w.endToEnd(c))
        } else tracedRun(spark, w, name, seed, work, checks)
      metrics.foreach(m => println(f"${m.name}%-28s ${m.value}%16.6f ${m.unit}"))
      val ok = checks.ok && failed == 0
      if (!ok)
        System.err.println(s"[perfbench] ${checks.failures.size} checks " +
          s"failed, $failed operations failed")
      println(Json(Json.obj(
        "correct" -> ok,
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> Json.Obj(metrics.map(m =>
          m.name -> Json.obj("value" -> m.value, "unit" -> m.unit))))))
      ok
    } finally spark.stop()
    if (!correct) sys.exit(1)
  }

  /** An untraced iteration, a traced one (spans plus Spark listener) and
    * another untraced one, then the per-layer pass. The traced iteration's
    * excess over the mean of the untraced ones is the tracing overhead. */
  private def tracedRun(spark: SparkSession, w: Workload, name: String,
      seed: Long, work: Path, checks: Checks): (Int, Int, Seq[Metric]) = {
    val plain = new Client(None)
    def plainIteration(): Double = {
      val t0 = System.nanoTime()
      w.iteration(spark, plain, checks)
      (System.nanoTime() - t0) / 1e9
    }
    val plain1 = plainIteration()

    val tracer = new Tracer
    val traced = new Client(Some(tracer))
    val counters = new SparkCounters
    spark.sparkContext.addSparkListener(counters)
    val t1 = System.nanoTime()
    w.iteration(spark, traced, checks)
    val tracedS = (System.nanoTime() - t1) / 1e9
    org.apache.spark.BenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counters)
    val plainS = (plain1 + plainIteration()) / 2

    val own = w.layers(spark, tracer, checks).map(m => m.name -> m).toMap
    val layer = LayerMetrics.map { case (n, u) =>
      own.getOrElse(n, Metric(n, 0.0, u))
    }
    require(own.keySet.subsetOf(LayerMetrics.map(_._1).toSet),
      s"undeclared layer metrics: ${own.keySet -- LayerMetrics.map(_._1)}")
    val out = work.resolve("trace")
    Files.createDirectories(out)
    Files.write(out.resolve(s"$name-seed$seed.json"), tracer.toJson.getBytes(UTF_8))
    (plain.attempted + traced.attempted, plain.failed + traced.failed,
      layer ++ counters.metrics(tracedS, Cores) :+
        Metric("trace.overhead_frac", tracedS / plainS - 1.0, "frac"))
  }

  /** Runs a tiny iteration of every workload in one JVM; the build records
    * the class-data archive at the exit of this run. */
  private def train(work: Path): Unit = {
    val spark = session(work)
    try Seq("daily_etl", "corpus_curation", "vector_search").foreach { n =>
      val w = make(n, "tiny", 1L, work.resolve("data").resolve(s"train-$n"))
      w.generate()
      w.load(spark)
      w.iteration(spark, new Client(None, sampleHeap = false), new Checks)
    } finally spark.stop()
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}
