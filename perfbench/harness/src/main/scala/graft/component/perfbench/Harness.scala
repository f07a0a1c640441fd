package graft.component.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession

import graft.component._
import graft.functions.GraftExtensions

/** The JVM side of the component benchmark.
  *
  *   java ... graft.component.perfbench.Harness --job DIR --data DIR
  *     --work DIR --out FILE --seconds S --trace 0|1
  *
  * The first thing this fresh JVM does is one Keboola job:
  * `graft.component.Main` on `--job` (a copy of the data dir), so the
  * caller can time it from spawn to its end. Then, with the JIT warm from
  * that job, it builds the session exactly as `Main` does (setup samples)
  * and for `--seconds` times `Component.run` on fresh copies of `--data`
  * under `--work` (the session catalog emptied first), each run followed
  * by a fixed-shape probe (the load sentinel) and a round of the four
  * sync actions. With `--trace 1` it adds
  * traced runs that replay `Component.run`'s layer calls in the same
  * order inside spans. Everything measured goes to `--out` as one JSON
  * object; `perfbench/run.py` turns it into metrics.
  */
object Harness {

  val ActionNames = Seq("syntax_check", "expected_input_tables",
    "lineage_visualization", "execution_plan_visualization")
  val MinRuns = 2
  val WarmupActionRounds = 5
  val MinActionRounds = 16
  val TracedRuns = 2
  val SetupSamples = 11

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = Paths.get(opt("data")).toAbsolutePath
    val work = Paths.get(opt("work")).toAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val job = runJob(Paths.get(opt("job")).toAbsolutePath)

    val config = Config.parse(Files.readString(data.resolve("config.json")))
    val threads = SystemResources.resolveThreads(config.threads)
    val memMb = SystemResources.resolveMemoryMb(config.maxMemoryMb)

    val setup = (1 to SetupSamples).map { i =>
      val t0 = System.nanoTime()
      val s = buildSession(threads, memMb)
      val t1 = System.nanoTime()
      GraftExtensions.register(s)
      DuckFunctions.register(s)
      val t2 = System.nanoTime()
      if (i < SetupSamples) s.stop()
      Json.obj(Seq("build_s" -> ((t1 - t0) / 1e9).toString, "register_s" -> ((t2 - t1) / 1e9).toString))
    }
    val spark = SparkSession.active
    val bench = new Harness(spark, data, work)
    val result = mutable.LinkedHashMap[String, String]()
    result("job") = job
    result("record") = bench.record(threads, memMb)
    result("setup") = Json.arr(setup)
    try {
      result("warmup_actions") = Json.arr((1 to WarmupActionRounds).map(_ => bench.actionRound()))
      val runs = mutable.ArrayBuffer[String]()
      val rounds = mutable.ArrayBuffer[String]()
      val probes = mutable.ArrayBuffer[Double](bench.probe())
      val t0 = System.nanoTime()
      def elapsed = (System.nanoTime() - t0) / 1e9
      // measure for `seconds`: full runs, each followed by the load probe
      // and one round of the four sync actions
      while (runs.size < MinRuns || (elapsed < seconds && runs.size < 50)) {
        runs += bench.untracedRun(s"run${runs.size}")
        probes += bench.probe()
        rounds += bench.actionRound()
      }
      // action rounds are cheap: more of them steady their median
      while (rounds.size < MinActionRounds) rounds += bench.actionRound()
      result("runs") = Json.arr(runs)
      result("actions") = Json.arr(rounds)
      result("probes") = Json.arr(probes.map(_.toString))
      if (trace) {
        // each traced run is paired with an untraced one right before it,
        // so the tracing overhead compares equally warm runs
        val listener = new LayerListener
        val tracer = new Tracer(spark.sparkContext)
        val paired = mutable.ArrayBuffer[String]()
        val traced = (0 until TracedRuns).map { i =>
          paired += bench.untracedRun(s"paired$i")
          spark.sparkContext.addSparkListener(listener)
          tracer.run = i
          try bench.tracedRun(tracer, listener)
          finally spark.sparkContext.removeSparkListener(listener)
        }
        spark.sparkContext.addSparkListener(listener)
        result("traced_actions") = Json.arr((0 until TracedRuns).map { i =>
          tracer.run = 100 + i; bench.tracedActionRound(tracer, listener)
        })
        spark.sparkContext.removeSparkListener(listener)
        result("paired") = Json.arr(paired)
        result("traced") = Json.arr(traced)
      }
      result("ok") = "true"
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        result("ok") = "false"
        result("error") = Json.str(String.valueOf(e))
    } finally {
      Files.writeString(Paths.get(opt("out")), Json.obj(result) + "\n")
      spark.stop()
    }
  }

  /** `graft.component.Main` on `dir`: its end time (epoch seconds), the
    * JVM's peak RSS at that point, and the output digest. */
  def runJob(dir: Path): String = {
    val error =
      try { Main.main(Array(dir.toString)); None }
      catch { case e: Throwable => e.printStackTrace(); Some(String.valueOf(e)) }
    val end = java.time.Instant.now()
    val hwmKb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
    Json.obj(Seq(
      "ok" -> error.isEmpty.toString,
      "error" -> Json.str(error.getOrElse("")),
      "end_epoch_s" -> (end.getEpochSecond + end.getNano / 1e9).toString,
      "peak_rss_mb" -> (hwmKb.getOrElse(0L) / 1024.0).toString,
      "digest" -> Json.str(if (error.isEmpty) outputs(dir).digest else "")))
  }

  /** `graft.component.Main`'s session, setting for setting. */
  def buildSession(threads: Int, memMb: Long): SparkSession = {
    val maxPartitionBytes = math.min(128L << 20,
      math.max(16L << 20, memMb * 1048576L / (threads * 8L)))
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.optimizer.excludedRules", GraftExtensions.ExcludedOptimizerRules)
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** sha256 of every file under out/tables plus size and row counts. */
  final case class Outputs(digest: String, files: Seq[(String, String)], bytes: Long, rows: Long)

  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString

  def outputs(dir: Path): Outputs = {
    val root = dir.resolve("out").resolve("tables")
    val walk = Files.walk(root)
    val files = try walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .map(p => root.relativize(p).toString.replace('\\', '/') -> p).sortBy(_._1)
      finally walk.close()
    var bytes = 0L
    var rows = 0L
    val per = files.map { case (rel, p) =>
      val content = Files.readAllBytes(p)
      bytes += content.length
      if (!rel.endsWith(".manifest")) rows += math.max(0, content.count(_ == '\n') - 1)
      rel -> hex(MessageDigest.getInstance("SHA-256").digest(content))
    }
    Outputs(combined(per), per, bytes, rows)
  }

  def combined(per: Seq[(String, String)]): String =
    hex(MessageDigest.getInstance("SHA-256").digest(
      per.map { case (k, v) => s"$k\t$v\n" }.mkString.getBytes("UTF-8")))

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally walk.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally walk.close()
    }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
}

final class Harness(spark: SparkSession, data: Path, work: Path) {
  import Harness._

  /** A fresh data dir: config.json and in/ copied, empty out/. */
  private def fresh(tag: String): Path = {
    val dir = work.resolve(tag)
    deleteTree(dir)
    val src = data.resolve("in")
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val to = dir.resolve("in").resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else Files.copy(p, to, StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
    Files.copy(data.resolve("config.json"), dir.resolve("config.json"))
    Files.createDirectories(dir.resolve("out").resolve("tables"))
    Files.createDirectories(dir.resolve("out").resolve("files"))
    dir
  }

  /** Drop every view and table a previous run left in the session. */
  private def resetCatalog(): Unit = {
    spark.catalog.listTables().collect().foreach { t =>
      if (t.isTemporary) spark.catalog.dropTempView(t.name)
      else spark.sql(s"DROP TABLE IF EXISTS `${t.name}`")
    }
    spark.catalog.clearCache()
  }

  private def runJson(wall: Double, dir: Path, extra: Seq[(String, String)] = Nil): String = {
    val o = outputs(dir)
    Json.obj(Seq(
      "wall_s" -> wall.toString,
      "digest" -> Json.str(o.digest),
      "files" -> Json.obj(o.files.map { case (k, v) => k -> Json.str(v) }),
      "out_bytes" -> o.bytes.toString,
      "rows" -> o.rows.toString,
      "input_bytes" -> treeBytes(dir.resolve("in")).toString,
      "warehouse_bytes" -> treeBytes(dir.resolve("out").resolve("files").resolve("warehouse")).toString
    ) ++ extra)
  }

  def untracedRun(tag: String): String = {
    val dir = fresh(tag)
    resetCatalog()
    val t0 = System.nanoTime()
    Component.run(spark, dir.toString)
    val wall = (System.nanoTime() - t0) / 1e9
    val json = runJson(wall, dir)
    deleteTree(dir)
    json
  }

  /** Fixed-shape probe: a small two-stage aggregate, no file I/O. */
  def probe(): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 200000, 1, 4).selectExpr("id % 97 AS k").groupBy("k").count().collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def actionOutput(result: Component.RunResult): String = result.actionOutput.getOrElse("")

  /** One round of the four sync actions through `Component.run`. */
  def actionRound(): String = {
    val per = Harness.ActionNames.map { a =>
      val dir = data.resolve("actions").resolve(a).toString
      val t0 = System.nanoTime()
      val out = actionOutput(Component.run(spark, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      a -> Json.obj(Seq("s" -> dt.toString, "digest" -> Json.str(digestOf(out))))
    }
    Json.obj(per)
  }

  private def digestOf(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8")))

  // ---- traced replay of Component.run ------------------------------------

  private def configSpan(tr: Tracer, dir: Path): Config = tr.span("config") {
    val c = Config.parse(Files.readString(dir.resolve("config.json")))
    Macros.clear()
    FileReads.clear()
    SequenceSql.clear()
    TypeSql.reset()
    c
  }

  private def registerSpan(tr: Tracer): Unit = tr.span("session.register") {
    GraftExtensions.register(spark)
    DuckFunctions.register(spark)
  }

  /** `Component.run` for a run config, each layer call in its span, in
    * the same order. Returns the executed plan and per-query timings. */
  private def replay(tr: Tracer, dir: Path): (ExecutionPlan, ExecutionStats) = {
    val dataDir = dir.toString
    val config = configSpan(tr, dir)
    require(config.action.isEmpty && !config.syntaxCheckOnStartup && !config.debug,
      "the traced replay covers plain runs only")
    registerSpan(tr)
    tr.span("warehouse", "passthrough") {
      val inWarehouse = Paths.get(dataDir, "in", "files", "warehouse")
      if (Files.isDirectory(inWarehouse)) {
        val listing = Files.list(inWarehouse)
        try listing.forEach { p =>
          if (Files.isDirectory(p) && !Files.exists(p.resolve("meta.json")))
            spark.read.parquet(p.toString)
              .createOrReplaceTempView(Names.view(p.getFileName.toString))
        } finally listing.close()
      }
    }
    tr.span("ingest") { Ingest.loadAll(spark, dataDir, config) }
    tr.span("session.register", "version") {
      val resolved = Versions.resolve(config.duckdbVersion.getOrElse(Versions.LatestAlias))
      spark.udf.register("version", () => Versions.reportedVersion(resolved))
      DuckFunctions.register(spark, resolved)
    }
    val outWarehouse = Paths.get(dataDir, "out", "files", "warehouse")
    tr.span("warehouse", "out") { Files.createDirectories(outWarehouse) }
    // Planner.plan, with its analysis and rewrite calls in child spans
    val plan = tr.span("planner") {
      val queries = config.namedScripts.map { s =>
        val a = tr.span("analyzer", s.name) { SqlAnalyzer.analyzeScript(spark, s.sql) }
        val stmts = tr.span("dialect", s.name) { Dialect.prepare(s.sql) }
        Query(s.blockIdx, s.block, s.code, s.name, s.sql, stmts,
          a.dependencies, a.outputs, a.statementType)
      }
      val prod = Planner.producers(queries)
      val byIdx = queries.groupBy(_.blockIdx)
      ExecutionPlan(
        byIdx.keys.toList.sorted.map { bi =>
          PlannedBlock(byIdx(bi).head.block, Planner.batchBlock(byIdx(bi), prod))
        },
        prod)
    }
    val threads = SystemResources.resolveThreads(config.threads)
    val stats = tr.span("executor") {
      new Executor(spark, outWarehouse.toString, threads).execute(plan)
    }
    config.outputTables.foreach { t =>
      tr.span("export", t.source) { Export.exportTable(spark, dataDir, t) }
    }
    tr.span("export", "file_manifests") { Export.exportFileManifests(dataDir, config) }
    (plan, stats)
  }

  private def spansOf(tr: Tracer, listener: LayerListener, t0: Long): String = {
    ListenerDrain(spark.sparkContext)
    Json.arr(tr.spans.filter(_.run == tr.run)
      .map(s => tr.spanJson(s, listener.counts(Tracer.group(s.id)), t0)))
  }

  def tracedRun(tr: Tracer, listener: LayerListener): String = {
    val dir = fresh(s"traced${tr.run}")
    resetCatalog()
    ListenerDrain(spark.sparkContext)
    val jobs0 = listener.jobs
    val gc0 = gcSeconds
    val t0 = System.nanoTime()
    val (plan, stats) = tr.span("run") { replay(tr, dir) }
    val wall = (System.nanoTime() - t0) / 1e9
    val gc = gcSeconds - gc0
    val spans = spansOf(tr, listener, t0) // drains the listener bus
    // jobs this run started that no span of this run was charged with
    val loose = listener.jobs - jobs0 -
      tr.spans.filter(_.run == tr.run).map(s => listener.counts(Tracer.group(s.id)).jobs).sum
    // per-query seconds grouped by batch (the Executor reports them in
    // batch order), for the critical path and barrier waits
    val timings = stats.timings.iterator
    val batches = plan.blocks.flatMap(_.batches).map { b =>
      Json.arr(b.queries.map { q =>
        val t = timings.next()
        require(t.name == q.name, s"timing ${t.name} out of plan order (${q.name})")
        Json.obj(Seq("name" -> Json.str(q.name), "s" -> t.seconds.toString,
          "statements" -> q.statements.size.toString))
      })
    }
    val json = runJson(wall, dir, Seq(
      "gc_s" -> gc.toString,
      "unattributed_jobs" -> loose.toString,
      "batches" -> Json.arr(batches),
      "spans" -> spans))
    deleteTree(dir)
    json
  }

  def tracedActionRound(tr: Tracer, listener: LayerListener): String = {
    val t0 = System.nanoTime()
    val per = Harness.ActionNames.map { a =>
      val dir = data.resolve("actions").resolve(a)
      val out = tr.span("action", a) {
        val config = configSpan(tr, dir)
        registerSpan(tr)
        tr.span("actions." + a) {
          a match {
            case "syntax_check" =>
              val issues = graft.component.Actions.syntaxCheck(spark, config)
              if (issues.isEmpty) "OK" else issues.map(i => s"${i.query}: ${i.message}").mkString("\n")
            case "expected_input_tables" => graft.component.Actions.expectedInputReport(spark, config)
            case "lineage_visualization" => graft.component.Actions.lineage(spark, config)
            case "execution_plan_visualization" => graft.component.Actions.executionPlan(spark, config)
          }
        }
      }
      a -> Json.str(digestOf(out))
    }
    Json.obj(Seq("digests" -> Json.obj(per), "spans" -> spansOf(tr, listener, t0)))
  }

  /** Effective session settings and machine facts, kept with every result. */
  def record(threads: Int, memMb: Long): String = {
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filter { case (k, _) => k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.local") }
      .map { case (k, v) => k -> Json.str(v) }
    Json.obj(Seq(
      "conf" -> Json.obj(conf),
      "threads" -> threads.toString,
      "max_memory_mb" -> memMb.toString,
      "cores" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "spark_local_dirs" -> Json.str(sys.env.getOrElse("SPARK_LOCAL_DIRS", "")),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version"))))
  }
}
