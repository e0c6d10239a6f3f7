package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Default to the machine's real core count (capped at 32, the bench
    // posture): an env-less driver run at local[4] projected to ~an hour
    // for the full surface and timed out (round-12 t2 came back empty).
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(Runtime.getRuntime.availableProcessors, 32).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts is parquet timestamp[ns] — read as long, converted in
      // graft.util.Tables.events (matches DuckDB's truncating read).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // optional runtime-conf overrides (e.g. SPARK_GRAFT_SPARK_CONF=
    // "spark.graft.dedup.unionFindMaxEdges=0") — forces the fallback
    // paths behind the driver-local valves (here the distributed
    // components path) through the SAME oracle gate, no code edits
    sys.env.get("SPARK_GRAFT_SPARK_CONF").foreach(_.split(',')
      .map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    new java.io.File(outDir).mkdirs()
    // optional comma-separated name-prefix filter for focused local runs
    // (e.g. SPARK_GRAFT_VERIFY_FILTER=q82,q89); unset (the driver) = all
    val filter = sys.env.get("SPARK_GRAFT_VERIFY_FILTER")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = filter match {
      case Some(ps) =>
        SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    // Sharding protocol for a parallel driver: run K Verify processes,
    // each with SPARK_GRAFT_VERIFY_SHARD=i/K — query names hash-assigned
    // to shards, all writing the same outDir (disjoint subdirs). Any
    // single process still dumps oracle_sql.json, which covers the union.
    val sharded = sys.env.get("SPARK_GRAFT_VERIFY_SHARD") match {
      case Some(s) =>
        val Array(i, k) = s.split('/').map(_.trim.toInt)
        selected.filter { case (n, _) =>
          math.floorMod(n.hashCode, k) == i }
      case None => selected
    }
    sharded.foreach { case (name, fn) =>
      // Un-coalesced write: the final total-order sort leaves range-
      // partitioned output whose part files glob back in global order
      // (checker reads <name>/*.parquet), and the post-sort stage writes
      // in parallel instead of serializing wide results through one task
      // (round-12 VERDICT item 1b). AQE coalesces tiny shuffle reads, so
      // small results still come out as one or two files.
      try fn(spark, sfDir).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // remove any partial/stale output so a failure can't be masked
        // by a previous run's parquet in the same outDir; recursive — a
        // partial write can leave a _temporary subtree that a flat delete
        // would miss, keeping the stale directory alive
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
      // release any caches built by shared-stage pipelines
      spark.sqlContext.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // Atomic publish: under the sharding protocol K processes write this
    // identical file concurrently; write-to-temp + rename means a checker
    // can never observe a truncated/partially-written json (round-13
    // ADVICE). Unique temp per process, ATOMIC_MOVE where the fs has it.
    val tmp = Paths.get(s"$outDir/.oracle_sql.json.${
      java.lang.ProcessHandle.current.pid}.tmp")
    Files.writeString(tmp, json)
    try Files.move(tmp, Paths.get(s"$outDir/oracle_sql.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, Paths.get(s"$outDir/oracle_sql.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    spark.stop()
  }
}
