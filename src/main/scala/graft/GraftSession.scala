package graft

import org.apache.logging.log4j.Level
import org.apache.logging.log4j.core.config.Configurator
import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is built. The component
  * (`component.Main`), `Bench`, `Verify`, the dev tools and the test
  * suites all run the product engine config of [[settings]], so a plan
  * or a timing seen in one is the plan the others run. The only named
  * per-use difference is [[SingleHost]], which `Bench` and the profiling
  * tools add on top.
  */
object GraftSession {

  /** Spark's own split size, kept by callers with no memory budget. */
  val DefaultMaxPartitionBytes: Long = 128L << 20

  /** `threads` tasks scan concurrently; size input splits so their working
    * set (~8× on-disk bytes after decompression + exec structures) fits
    * the memory budget, clamped to Spark's sane [16 MB, 128 MB] band. */
  def maxPartitionBytes(threads: Int, memMb: Option[Long]): Long =
    memMb.fold(DefaultMaxPartitionBytes) { mb =>
      math.min(DefaultMaxPartitionBytes,
        math.max(16L << 20, mb * 1048576L / (threads * 8L)))
    }

  /** The product engine config on `threads` local cores and an optional
    * memory budget in MB. */
  def settings(threads: Int, memMb: Option[Long] = None): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$threads]",
    "spark.sql.shuffle.partitions" -> threads.toString,
    "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes(threads, memMb).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    // post-shuffle partition count follows data volume (advisory size),
    // not defaultParallelism — small intermediate results don't pay a
    // full-width task launch per stage
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.optimizer.excludedRules" ->
      graft.functions.GraftExtensions.ExcludedOptimizerRules,
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false")

  /** Single-host set (r19): what a resident engine on one box runs with.
    * `Bench` and the profiling tools add it; the product does not yet —
    * moving it into `component.Main` is a measured change of its own.
    *  - The headline queries' codegen stages overflow the default
    *    100-entry generated-class cache, so every "warm" run recompiled
    *    evicted stages with Janino (static conf: set before creation).
    *  - Every task is process-local, so locality wait only delays launch.
    *  - Shuffle blocks live in the local page cache: lz4 block compression
    *    costs CPU per block with nothing to save on a loopback "network".
    *    On a real cluster leave compression on.
    *  - The bypass shuffle writer opens one file per reduce partition per
    *    map task, so file creates per exchange grow quadratically with
    *    cores. jstack sampling of d03 at 32 cores put
    *    `FileOutputStream.open0` on top; the sort-path writer above 8
    *    reduce partitions (one data file + index per map task, the path a
    *    real cluster takes anyway) cut its task time 11 s → 4 s
    *    (ROUND_NOTES.md, optimization round 2 of r19).
    */
  val SingleHost: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "2000",
    "spark.locality.wait" -> "0s",
    "spark.shuffle.compress" -> "false",
    "spark.shuffle.spill.compress" -> "false",
    "spark.shuffle.sort.bypassMergeThreshold" -> "8")

  /** Builds (or returns the running) session with [[settings]], plus
    * [[SingleHost]] when `singleHost`. Two WARNs that report normal
    * operation are silenced:
    *  - graft replaces built-in functions on purpose, so the registry's
    *    "replaced a previously registered function";
    *  - every read of a parquet glob probes it for a streaming-sink
    *    metadata directory and logs "Assume no metadata directory" with
    *    a FileNotFoundException stack trace. */
  def build(threads: Int, memMb: Option[Long] = None,
            singleHost: Boolean = false): SparkSession = {
    val spark = (settings(threads, memMb) ++ (if (singleHost) SingleHost else Nil))
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // after getOrCreate: Spark (re)loads its log4j config on first use
    Configurator.setLevel(
      "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry", Level.ERROR)
    Configurator.setLevel(
      "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink", Level.ERROR)
    spark
  }

  /** Cores for the dev mains: `SPARK_GRAFT_CPUS`, else every core. */
  def devThreads: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors) { s =>
      s.trim.toIntOption.filter(_ > 0).getOrElse(
        sys.error(s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
    }
}
