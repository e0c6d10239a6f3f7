package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** One reported number. */
final case class Metric(name: String, value: Double, unit: String)

/** Output checks of a run. A failed check makes the run incorrect. An
  * inactive instance (set-up's warm-up) tells workloads to skip the
  * queries that compute their checks. */
final class Checks(val active: Boolean = true) {
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  var passed = 0
  def apply(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (ok) passed += 1
    else {
      failures += s"$name $detail"
      System.err.println(s"[perfbench] CHECK FAILED: $name $detail")
    }
  /** Runs the code that computes checks; if it throws, that is a failed
    * check too. */
  def guarded(name: String)(body: => Unit): Unit =
    try body catch { case NonFatal(e) => apply(name, ok = false, e.toString) }
  def ok: Boolean = failures.isEmpty
}

/** The closed-loop client: runs one operation at a time, counts each as
  * attempted or failed, and records the wall time of successful ones only,
  * so a crash can never pass as a fast operation. After each operation it
  * forces a GC outside the timed region and samples the live heap. */
final class Client(val tracer: Option[Tracer], sampleHeap: Boolean = true) {
  var attempted = 0
  var failed = 0
  val times: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  var peakHeapMb = 0.0

  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    val res =
      try Some(tracer.fold(body)(_.span(kind)(body)))
      catch {
        case NonFatal(e) =>
          failed += 1
          System.err.println(s"[perfbench] operation $kind FAILED: $e")
          None
      }
    if (res.isDefined) {
      val dt = (System.nanoTime() - t0) / 1e9
      times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += dt
      System.err.println(f"[perfbench] $kind%-12s $dt%8.3f s")
    }
    if (sampleHeap) {
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      peakHeapMb = math.max(peakHeapMb, used / 1048576.0)
    }
    res
  }

  def samples(kind: String): Seq[Double] =
    times.get(kind).map(_.toSeq).getOrElse(Nil)
}

object Stats {
  /** Median; NaN (written as null) when every sample's operation failed. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

/** Spans at layer boundaries, kept in memory and written out when the run
  * ends. A span's self time is its duration minus the time its child spans
  * cover. Counters are recorded at the same boundaries. */
final class Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long,
      endNs: Long)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  def add(name: String, v: Double): Unit =
    counts(name) = counts.getOrElse(name, 0.0) + v

  /** Seconds of self time per span name, summed over its spans. */
  def selfSeconds: Map[String, Double] = {
    val childNs = spans.groupBy(_.parent).view
      .mapValues(_.map(s => s.endNs - s.startNs).sum).toMap
    spans.groupBy(_.name).view.mapValues(_.map { s =>
      (s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)) / 1e9
    }.sum).toMap
  }

  def durations(name: String): Seq[Double] =
    spans.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e9).toSeq

  def toJson: String = Json(Json.obj(
    "spans" -> spans.map(s => Json.obj("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
    "counts" -> counts))
}

/** Spark runtime counters, read by a listener registered from outside the
  * engine. */
final class SparkCounters extends SparkListener {
  var jobs, stages, tasks, taskFailures = 0L
  var runMs, cpuNs, gcMs, shuffleWrite, shuffleRead, spill = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.diskBytesSpilled
    }
  }

  def metrics(wallS: Double, cores: Int): Seq[Metric] = synchronized {
    val mb = 1048576.0
    Seq(
      Metric("spark.jobs", jobs, "count"),
      Metric("spark.stages", stages, "count"),
      Metric("spark.tasks", tasks, "count"),
      Metric("spark.executor_run_s", runMs / 1e3, "s"),
      Metric("spark.executor_cpu_s", cpuNs / 1e9, "s"),
      Metric("spark.core_idle_frac", 1.0 - runMs / 1e3 / (wallS * cores), "frac"),
      Metric("spark.gc_s", gcMs / 1e3, "s"),
      Metric("spark.shuffle_write_mb", shuffleWrite / mb, "MB"),
      Metric("spark.shuffle_read_mb", shuffleRead / mb, "MB"),
      Metric("spark.spill_mb", spill / mb, "MB"),
      Metric("spark.task_failures", taskFailures, "count"))
  }
}

/** Helpers for driving one layer's public function in the traced run. */
object Layer extends AdaptiveSparkPlanHelper {

  /** Forces a frame's output to the no-op sink. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Materializes a frame in memory, so the next layer reads it ready. */
  def materialize(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  /** Runs `df` into the no-op sink and returns the executed physical plan,
    * whose SQL metrics count the rows each operator produced. The listener
    * goes on the frame's own session: an engine function may return a frame
    * bound to a session it created. */
  def noopPlan(df: DataFrame): SparkPlan = {
    val spark = df.sparkSession
    @volatile var plan: SparkPlan = null
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plan = qe.executedPlan
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      noop(df)
      org.apache.spark.BenchBus.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(l)
    require(plan != null, "no executed plan was reported")
    plan
  }

  /** Sum of `numOutputRows` over the plan nodes `pick` selects, adaptive
    * stages included. */
  def outputRows(plan: SparkPlan, pick: SparkPlan => Boolean): Long =
    collect(plan) { case p if pick(p) => p }
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum
}
