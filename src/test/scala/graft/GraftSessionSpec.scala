package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.functions.GraftExtensions

/** Pins the one engine config: `GraftSession.settings` setting by
  * setting, the live test session against it, the benchmark harness's
  * copy of `component.Main`'s session against it, and the
  * one-factory property (no other `SparkSession.builder` in main code). */
class GraftSessionSpec extends SparkSpec {

  private val MB = 1L << 20

  private def product(threads: Int, maxPartitionBytes: Long): Map[String, String] = Map(
    "spark.master" -> s"local[$threads]",
    "spark.sql.shuffle.partitions" -> threads.toString,
    "spark.sql.files.maxPartitionBytes" -> maxPartitionBytes.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
    "spark.sql.optimizer.excludedRules" -> GraftExtensions.ExcludedOptimizerRules,
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.ui.enabled" -> "false")

  private def settings(threads: Int, memMb: Option[Long]): Map[String, String] = {
    val s = GraftSession.settings(threads, memMb)
    assert(s.map(_._1).distinct.size == s.size, "a key is set twice")
    s.toMap
  }

  test("product config: every setting, for a memory budget and without one") {
    // 3072 MB over 4 threads × 8 = 96 MB splits (the benchmark's config)
    assert(settings(4, Some(3072L)) == product(4, 96 * MB))
    assert(settings(8, None) == product(8, 128 * MB))
    assert(GraftSession.DefaultMaxPartitionBytes == 128 * MB)
  }

  test("maxPartitionBytes clamps to [16 MB, 128 MB]") {
    assert(GraftSession.maxPartitionBytes(4, Some(256L)) == 16 * MB)
    assert(GraftSession.maxPartitionBytes(4, Some(512L)) == 16 * MB)
    assert(GraftSession.maxPartitionBytes(4, Some(513L)) > 16 * MB)
    assert(GraftSession.maxPartitionBytes(4, Some(4096L)) == 128 * MB)
    assert(GraftSession.maxPartitionBytes(4, Some(1L << 20)) == 128 * MB)
    assert(GraftSession.maxPartitionBytes(32, Some(2048L)) == 16 * MB)
    assert(settings(4, Some(100L))("spark.sql.files.maxPartitionBytes") ==
      (16 * MB).toString)
    assert(settings(2, Some(65536L))("spark.sql.files.maxPartitionBytes") ==
      (128 * MB).toString)
  }

  test("single-host set is Bench's r19 set, disjoint from the product keys") {
    assert(GraftSession.SingleHost.toMap == Map(
      "spark.sql.codegen.cache.maxEntries" -> "2000",
      "spark.locality.wait" -> "0s",
      "spark.shuffle.compress" -> "false",
      "spark.shuffle.spill.compress" -> "false",
      "spark.shuffle.sort.bypassMergeThreshold" -> "8"))
    assert(GraftSession.SingleHost.map(_._1).toSet
      .intersect(settings(4, None).keySet).isEmpty)
  }

  test("the test session runs the product config, without the single-host set") {
    assert(spark eq TestSpark.spark)
    for ((k, v) <- settings(TestSpark.Threads, None))
      assert(spark.conf.get(k) == v, s"test session drifted on $k")
    for ((k, _) <- GraftSession.SingleHost)
      assert(spark.sparkContext.getConf.getOption(k).isEmpty,
        s"test session sets the bench-only $k")
  }

  test("build silences the two WARNs that report normal operation") {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    spark // the shared session is built through GraftSession.build
    // the logger's OWN config, not the root level the test session lowers
    val conf = LogManager.getContext(false).asInstanceOf[LoggerContext].getConfiguration
    for (name <- Seq(
        "org.apache.spark.sql.catalyst.analysis.SimpleFunctionRegistry",
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink")) {
      val lc = conf.getLoggerConfig(name)
      assert(lc.getName == name && lc.getLevel == Level.ERROR, name)
    }
  }

  private def source(p: Path): String = Files.readString(p)

  test("component.Main builds the product session, with its memory budget") {
    val main = source(Paths.get("src/main/scala/graft/component/Main.scala"))
    assert("""GraftSession\.build\(""".r.findAllIn(main).size == 1)
    assert(main.contains("GraftSession.build(threads, Some(memMb))"))
    assert(!main.contains("conf.set("), "Main changes the session after build")
  }

  test("the benchmark harness's copy of Main's session matches the product") {
    // perfbench/harness replays Main's session with its own builder; any
    // drift between the two makes setup_s/run_s time a different engine
    val harness = source(Paths.get(
      "perfbench/harness/src/main/scala/graft/component/perfbench/Harness.scala"))
    val start = harness.indexOf("def buildSession(threads: Int, memMb: Long)")
    assert(start >= 0, "Harness.buildSession not found")
    val body = harness.substring(start, harness.indexOf(".getOrCreate()", start))
    val (from, to) = (body.indexOf("val maxPartitionBytes ="), body.indexOf("val spark"))
    assert(from >= 0 && to > from, "harness maxPartitionBytes not found")
    assert(body.substring(from, to).replaceAll("\\s", "") ==
      "valmaxPartitionBytes=math.min(128L<<20,math.max(16L<<20,memMb*1048576L/(threads*8L)))")
    // the harness's formula, evaluated here, over a grid through both clamps
    for (threads <- Seq(1, 2, 4, 8, 32); memMb <- Seq(64L, 512L, 3072L, 8192L, 65536L))
      assert(GraftSession.maxPartitionBytes(threads, Some(memMb)) ==
        math.min(128L << 20, math.max(16L << 20, memMb * 1048576L / (threads * 8L))))

    val (threads, memMb) = (4, 3072L)
    def eval(expr: String): String = expr.trim match {
      case "threads" => threads.toString
      case "maxPartitionBytes" => GraftSession.maxPartitionBytes(threads, Some(memMb)).toString
      case "GraftExtensions.ExcludedOptimizerRules" => GraftExtensions.ExcludedOptimizerRules
      case "s\"local[$threads]\"" => s"local[$threads]"
      case lit if lit.matches("\"[^\"]*\"") => lit.stripPrefix("\"").stripSuffix("\"")
      case other => fail(s"harness setting has an unknown expression: $other")
    }
    val conf = """\.config\("([^"]+)",\s*([^)]+)\)""".r.findAllMatchIn(body)
      .map(m => m.group(1) -> eval(m.group(2))).toSeq
    val master = """\.master\(([^)]+)\)""".r.findAllMatchIn(body)
      .map(m => "spark.master" -> eval(m.group(1))).toSeq
    assert(master.size == 1)
    assert((master ++ conf).toMap == settings(threads, Some(memMb)))
  }

  test("GraftSession holds the only SparkSession.builder call in main code") {
    val root = Paths.get("src/main/scala")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "GraftSession.scala")
        .filter(p => """SparkSession\s*\.\s*builder""".r.findFirstIn(source(p)).isDefined)
        .map(root.relativize(_).toString).toSeq.sorted
      finally walk.close()
    assert(offenders.isEmpty, s"build sessions through graft.GraftSession: $offenders")
    assert(source(root.resolve("graft/GraftSession.scala")).contains("SparkSession.builder()"))
  }
}
