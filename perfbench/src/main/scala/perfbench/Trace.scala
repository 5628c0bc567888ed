package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** One timed call into an engine layer. Times are epoch milliseconds so
  * they line up with Spark's stage submission and completion times. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      runId: String, startMs: Double, endMs: Double) {
  def wallMs: Double = endMs - startMs
  def tag: String = s"pb-$id"
}

/** Records spans in memory and writes them out at the end of the run.
  * Disabled, it still times calls (the benchmark needs the durations) but
  * keeps nothing and tags no jobs. */
final class Tracer(var enabled: Boolean, val runId: String) {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1
  private var open = List.empty[Int]

  private def nowMs: Double = System.nanoTime() / 1e6 - Tracer.nanoOffsetMs

  /** Runs `body` as a span; jobs it starts carry the span's job tag, so
    * the listener attributes them to this call and not by time window.
    * Returns the result and the wall time in milliseconds. */
  def call[T](name: String, layer: String,
              sc: org.apache.spark.SparkContext)(body: => T): (T, Double) = {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(0)
    val tag = s"pb-$id"
    val on = enabled
    if (on) sc.addJobTag(tag)
    open = id :: open
    val t0 = nowMs
    try {
      val v = body
      val t1 = nowMs
      if (on) spans += Span(id, name, layer, parent, runId, t0, t1)
      (v, t1 - t0)
    } catch { case e: Throwable =>
      if (on) spans += Span(id, name, layer, parent, runId, t0, nowMs)
      throw e
    } finally {
      open = open.tail
      if (on) sc.removeJobTag(tag)
    }
  }

  def write(path: String): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"layer":"${s.layer}",""" +
        s""""parent":${s.parent},"run_id":"${s.runId}",""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}"""
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n"))
  }
}

object Tracer {
  /** nanoTime → epoch-ms offset, fixed once so spans stay monotonic. */
  val nanoOffsetMs: Double = System.nanoTime() / 1e6 - System.currentTimeMillis()
}

/** Task and stage counters for one span's jobs. */
final class LayerAcc {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskMs = 0L; var gcMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L
  /** Stages that read a JDBC source: one per pass over it. */
  var sourceScans = 0L
  val stageWindows = ArrayBuffer.empty[(Long, Long)]
}

/** Attributes every job to the span whose tag it carries (Spark job tags
  * are inherited by threads a call starts, such as a stream's execution
  * thread) and sums task metrics per span. */
final class LayerListener extends SparkListener {
  private val byTag = new ConcurrentHashMap[String, LayerAcc]()
  private val stageTag = new ConcurrentHashMap[Int, String]()

  private def acc(tag: String) = byTag.computeIfAbsent(tag, _ => new LayerAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
      .split(",").filter(_.startsWith("pb-"))
    // the innermost span wins: nested calls carry their parents' tags too
    if (tags.nonEmpty) {
      val tag = tags.maxBy(_.stripPrefix("pb-").toInt)
      acc(tag).synchronized { acc(tag).jobs += 1 }
      e.stageIds.foreach(stageTag.put(_, tag))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
      val a = acc(tag)
      a.synchronized {
        a.stages += 1
        if (e.stageInfo.rddInfos.exists(_.name.contains("JDBCRDD"))) a.sourceScans += 1
        for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
          a.stageWindows += ((s, c))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageTag.get(e.stageId)).foreach { tag =>
      val m = e.taskMetrics
      val a = acc(tag)
      a.synchronized {
        a.tasks += 1
        if (m != null) {
          a.taskMs += m.executorRunTime
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.inputBytes += m.inputMetrics.bytesRead
        }
      }
    }

  def forSpan(s: Span): LayerAcc = Option(byTag.get(s.tag)).getOrElse(new LayerAcc)

  /** Wall time of `s` during which no stage of its own ran: driver-side
    * planning, eager collects and scheduling gaps. */
  def outsideStageMs(s: Span): Double = {
    val ws = forSpan(s).stageWindows
      .map { case (a, b) => (math.max(a.toDouble, s.startMs), math.min(b.toDouble, s.endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0; var end = Double.MinValue
    ws.foreach { case (a, b) =>
      if (a > end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    math.max(0.0, s.wallMs - covered)
  }
}

/** Minimal JSON rendering for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => num(d)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
