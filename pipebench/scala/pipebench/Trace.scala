package pipebench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans at the layer boundaries the benchmark calls into, and the stage
  * metrics Spark attributes to them.
  *
  * A span stamps its id on the calling thread's local properties for the
  * length of the call; every job submitted under it (including broadcast
  * and AQE stage jobs, which inherit the submitter's properties) carries
  * that id to [[LayerListener]], which folds job, task and I/O counts into
  * per-span accumulators. Spans are kept in memory and written out when the
  * run ends.
  */
object Trace {
  val Key = "pipebench.span"

  final case class Span(id: Long, name: String, parent: Long, run: String,
                        startMs: Long, endMs: Long, durNs: Long)

  /** Counters of the jobs submitted under one span. */
  final class Acc {
    var jobs = 0
    var tasks = 0L
    var taskMs = 0L
    var maxTaskMs = 0L
    var gcMs = 0L
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
    var rowsOut = 0L
    val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  }

  final class LayerListener extends SparkListener {
    private val bySpan = new ConcurrentHashMap[String, Acc]
    private val stageSpan = new ConcurrentHashMap[Int, String]
    private val jobStart = new ConcurrentHashMap[Int, (String, Long)]
    @volatile var unattributedJobs = 0

    private def acc(span: String): Acc = bySpan.computeIfAbsent(span, _ => new Acc)

    def get(span: Long): Option[Acc] = Option(bySpan.get(span.toString))

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).map(_.getProperty(Key)).orNull
      if (span == null) unattributedJobs += 1
      else {
        acc(span).jobs += 1
        jobStart.put(e.jobId, (span, e.time))
        e.stageIds.foreach(stageSpan.put(_, span))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (span, t0) =>
        acc(span).jobIntervals += ((t0, e.time))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val span = stageSpan.get(e.stageId)
      val m = e.taskMetrics
      if (span != null && m != null) {
        val a = acc(span)
        a.tasks += 1
        a.taskMs += m.executorRunTime
        a.maxTaskMs = math.max(a.maxTaskMs, m.executorRunTime)
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        a.outputBytes += m.outputMetrics.bytesWritten
        a.rowsOut += m.outputMetrics.recordsWritten
      }
    }
  }

  /** Records spans when `enabled`; otherwise only runs the body. */
  final class Tracer(sc: SparkContext, run: String) {
    private val ids = new AtomicLong(0)
    private val spans = ArrayBuffer.empty[Span]
    @volatile var enabled = false

    /** Run `body` as span `name` under `parent`; returns its id with the result. */
    def span[T](name: String, parent: Long = 0L)(body: Long => T): T =
      if (!enabled) body(0L)
      else {
        val id = ids.incrementAndGet()
        val prev = sc.getLocalProperty(Key)
        sc.setLocalProperty(Key, id.toString)
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        try body(id)
        finally {
          val dur = System.nanoTime() - t0
          val endMs = System.currentTimeMillis()
          sc.setLocalProperty(Key, prev)
          spans.synchronized { spans += Span(id, name, parent, run, startMs, endMs, dur) }
        }
      }

    def all: Vector[Span] = spans.synchronized(spans.toVector)

    def write(path: String): Unit = {
      val lines = all.map { s =>
        Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.run,
          "start_ms" -> s.startMs, "end_ms" -> s.endMs, "dur_s" -> s.durNs / 1e9)
      }
      val p = java.nio.file.Paths.get(path)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.writeString(p, lines.mkString("", "\n", "\n"))
    }
  }

  /** Wall milliseconds of [startMs, endMs] that no job of `intervals` covers. */
  def uncoveredMs(startMs: Long, endMs: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var cursor = startMs
    intervals.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cursor) { covered += b - math.max(a, cursor); cursor = b }
      }
    math.max(0L, endMs - startMs - covered)
  }
}
