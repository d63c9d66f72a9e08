package graft.obs

import graft.SessionHygiene
import org.apache.spark.{GraftListenerShim, SparkContext}
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Task-metric totals. Sums over tasks, except `peakExecutionMemory`,
  * which is the largest single task's peak. */
final case class Totals(tasks: Int, taskMs: Long, inputBytes: Long,
                        shuffleReadBytes: Long, shuffleWriteBytes: Long,
                        spillBytes: Long, peakExecutionMemory: Long)

/** One Spark job of a [[Sample]]: its label, wall span and the totals of
  * every task its stages ran. */
final case class JobRecord(id: Int, label: String, startMs: Long,
                           endMs: Long, totals: Totals) {
  def wallMs: Long = (endMs - startMs).max(0L)
}

/** One timed run: the body's result, its wall seconds, the task totals
  * and per-job records of the Spark work it ran, and the whole-stage
  * codegen compilations it paid (on a repeat execution these are
  * per-run-unique generated sources, pure overhead a steady-state
  * deployment re-pays). */
final case class Sample[T](value: T, seconds: Double, totals: Totals,
                           jobs: Seq[JobRecord], codegenCompiles: Long)

/** The one measurement protocol every dev harness shares (Bench,
  * ScaleStress, JobProfile): how a run is timed, and how its Spark work
  * is counted. The body's exceptions propagate; nothing here catches. */
object Measure {

  private var registered: Option[(SparkContext, MeasureListener)] = None

  /** The listener of `sc`, registered on first use: one per context, so
    * a harness that recycles sessions gets a fresh one per context. */
  private def listener(sc: SparkContext): MeasureListener = synchronized {
    registered match {
      case Some((c, l)) if c eq sc => l
      case _ =>
        val l = new MeasureListener
        sc.addSparkListener(l)
        registered = Some((sc, l))
        l
    }
  }

  /** One run of `body`: reset the counts, time the body, drop the
    * session's storage, then snapshot once the listener bus has drained.
    * The drain is the barrier the async bus honors; a fixed sleep races
    * on a loaded machine and hands late task-end events to the next
    * run. The sample holds exactly the jobs the body started: the bus is
    * drained before the reset, so earlier work never lands in it, and
    * again before the job window closes, so the body's own job starts
    * are all in; the storage drop's `listTables` job starts after it. */
  def sample[T](spark: SparkSession)(body: => T): Sample[T] = {
    val sc = spark.sparkContext
    val l = listener(sc)
    GraftListenerShim.waitUntilListenerBusEmpty(sc)
    l.reset()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val t0 = System.nanoTime()
    val value = body
    val seconds = (System.nanoTime() - t0) / 1e9
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    GraftListenerShim.waitUntilListenerBusEmpty(sc)
    l.close()
    SessionHygiene.dropAllStorage(spark)
    GraftListenerShim.waitUntilListenerBusEmpty(sc)
    val (totals, jobs) = l.snapshot()
    Sample(value, seconds, totals, jobs, compiles)
  }

  /** Steady state: one warm run (plan, codegen and JIT for this exact
    * body at this input), then the better of two samples. Each sample
    * carries its own counts, so the metrics returned belong to the run
    * whose time is returned. */
  def steady[T](spark: SparkSession)(body: => T): Sample[T] = {
    sample(spark)(body)
    val a = sample(spark)(body)
    val b = sample(spark)(body)
    if (a.seconds <= b.seconds) a else b
  }
}

/** Records the jobs started between a reset and a close, and every task
  * of their stages until the next snapshot. */
private[obs] final class MeasureListener extends SparkListener {

  private final class Counts {
    var tasks = 0
    var taskMs, input, shufRead, shufWrite, spill, peak = 0L
    def add(m: TaskMetrics): Unit = {
      tasks += 1
      taskMs += m.executorRunTime
      input += m.inputMetrics.bytesRead
      shufRead += m.shuffleReadMetrics.totalBytesRead
      shufWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      peak = math.max(peak, m.peakExecutionMemory)
    }
    def totals: Totals =
      Totals(tasks, taskMs, input, shufRead, shufWrite, spill, peak)
  }

  private final class Job(val id: Int, val label: String, val start: Long) {
    var end = 0L
    val counts = new Counts
  }

  private var open = false
  private var total = new Counts
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Int]

  def reset(): Unit = synchronized {
    total = new Counts
    jobs.clear()
    stageJob.clear()
    open = true
  }

  def close(): Unit = synchronized { open = false }

  def snapshot(): (Totals, Seq[JobRecord]) = synchronized {
    val out = (total.totals, jobs.values.map(j =>
      JobRecord(j.id, j.label, j.start, j.end, j.counts.totals)).toSeq)
    jobs.clear()
    stageJob.clear()
    out
  }

  /** The job's description (what [[graft.plans.JobLabel]] sets), else its
    * last stage's name (the call site). A streaming micro-batch's own
    * "id = …, runId = …, batch = …" description names no phase, so it
    * falls back to the call site too. */
  private def label(e: SparkListenerJobStart): String =
    Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.job.description")))
      .filter(d => d.nonEmpty && !d.startsWith("id = "))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (open) {
      e.stageIds.foreach(stageJob(_) = e.jobId)
      jobs(e.jobId) = new Job(e.jobId, label(e), e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
        j.counts.add(m)
        total.add(m)
      }
  }
}
