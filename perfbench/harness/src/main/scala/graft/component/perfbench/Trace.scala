package graft.component.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Spark work attributed to one job group: the counts a span carries. */
final class SparkCounts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var writeBytes = 0L

  def json: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_s":${taskMs / 1e3},""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,"spill_bytes":$spillBytes,""" +
      s""""write_bytes":$writeBytes}"""
}

/** Attributes every job and completed stage to the job group that was set
  * on the submitting thread. Spark copies a thread's local properties to
  * the threads it creates, so the Executor's query pool (created inside
  * the `executor` span) carries that span's group. Jobs with no group land
  * under "". */
final class LayerListener extends SparkListener {
  private val byGroup = mutable.HashMap[String, SparkCounts]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private var jobsSeen = 0L

  private def acc(g: String): SparkCounts = byGroup.getOrElseUpdate(g, new SparkCounts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.GroupKey))).getOrElse("")
    acc(g).jobs += 1
    jobsSeen += 1
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val a = acc(stageGroup.getOrElse(info.stageId, ""))
    a.stages += 1
    a.tasks += info.numTasks
    val m = info.taskMetrics
    if (m != null) {
      a.taskMs += m.executorRunTime
      a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.diskBytesSpilled
      a.writeBytes += m.outputMetrics.bytesWritten
    }
  }

  def counts(group: String): SparkCounts = synchronized(byGroup.getOrElse(group, new SparkCounts))

  def jobs: Long = synchronized(jobsSeen)
}

/** In-memory spans around the layer calls of one traced run. Spans nest on
  * the calling thread; each sets its own Spark job group for its duration,
  * so the listener can charge Spark work to the innermost open span. */
final class Tracer(sc: SparkContext) {
  final class Span(val id: Int, val parent: Int, val name: String, val detail: String,
                   val run: Int, val start: Long) {
    var end = 0L
  }

  val spans = mutable.ArrayBuffer[Span]()
  var run = 0
  private var open = List.empty[Int]

  def span[T](name: String, detail: String = "")(body: => T): T = {
    val s = new Span(spans.size, open.headOption.getOrElse(-1), name, detail, run, System.nanoTime())
    spans += s
    open = s.id :: open
    val prev = sc.getLocalProperty(Tracer.GroupKey)
    sc.setLocalProperty(Tracer.GroupKey, Tracer.group(s.id))
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(Tracer.GroupKey, prev)
    }
  }

  def spanJson(s: Span, counts: SparkCounts, t0: Long): String =
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""detail":${Json.str(s.detail)},"run":${s.run},""" +
      s""""start_s":${(s.start - t0) / 1e9},"end_s":${(s.end - t0) / 1e9},""" +
      s""""spark":${counts.json}}"""
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  def group(spanId: Int): String = s"perfbench-$spanId"
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
