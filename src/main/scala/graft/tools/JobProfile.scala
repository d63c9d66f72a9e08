package graft.tools

import graft.{GraftSession, SparkEntry}
import graft.obs.Measure
import scala.collection.mutable

/** Dev tool (optimization guide §1): per-JOB time breakdown of a registry
  * query. The lifecycle queries (x32..x70, d47..) run dozens of Spark jobs
  * per invocation — a single wall-clock number can't say which phase to
  * optimize. Each query runs under [[graft.obs.Measure.steady]] (the
  * Bench protocol, one fresh JVM, without the rest of the registry
  * sharing the session); the tool prints the steady-state time as
  * `TIME <name> <sec>`, then the measured run's jobs — wall time,
  * label, task time, input and shuffle bytes — aggregated by label and
  * sorted by duration.
  * Run: sbt "runMain graft.tools.JobProfile <sfDir> <name> [name...]" */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = args.head
    println("FSIMPL " + org.apache.hadoop.fs.FileSystem
      .get(new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration).getClass.getName)
    println("ISTESTING spark.testing=" + sys.props.get("spark.testing") +
      " assertions=" + getClass.desiredAssertionStatus())
    // In-process stack sampler (guide §7.3: external jstack/jcmd attach is
    // blocked in this sandbox) — every ~8 ms, record the first
    // "interesting" frame (plus nearest graft/spark context) of every
    // thread that is RUNNABLE or inside a blocking syscall, bucketed by
    // thread family. Prints the hottest buckets after the measured run:
    // this is what attributes the total-vs-jobWall gap (driver-side
    // planning, txn-log I/O, stream machinery) that no SparkListener sees.
    val sampling = sys.env.get("GRAFT_SAMPLE").contains("1")
    val hot = mutable.Map.empty[(String, String), Int]
    val forkStacks = mutable.ArrayBuffer.empty[String]
    @volatile var sampleOn = false
    val sampler = new Thread(() => {
      val boring = Seq("Unsafe.park", "LockSupport", "Object.wait",
        "AbstractQueuedSynchronizer", "ForkJoinPool", "SelectorImpl",
        "epollWait", "PlainSocketImpl", "Net.poll", "CountDownLatch",
        "Reference.waitForReference", "ThreadPoolExecutor.getTask",
        "SynchronousQueue", "LinkedBlockingQueue.take",
        "LinkedBlockingDeque.take", "PriorityBlockingQueue.take")
      while (true) {
        if (sampleOn) {
          val all = Thread.getAllStackTraces
          all.forEach { (th, frames) =>
            if (frames.nonEmpty && th.getId != Thread.currentThread().getId) {
              val fs = frames.map(f => s"${f.getClassName}.${f.getMethodName}")
              val interesting = fs.find(f => !boring.exists(f.contains))
              val isIdle = boring.exists(fs.head.contains)
              if (!isIdle && interesting.isDefined) {
                // full stacks of the first threads caught forking a process
                if (fs.exists(_.contains("forkAndExec")) && forkStacks.size < 3)
                  forkStacks.synchronized {
                    forkStacks += frames.map(_.toString).mkString("\n    ")
                  }
                val ctx = fs.find(f => f.contains("graft") ||
                  f.contains("org.apache.spark.sql.execution") ||
                  f.contains("org.apache.spark.shuffle") ||
                  f.contains("org.apache.parquet") ||
                  f.contains("org.apache.hadoop") ||
                  f.contains("org.apache.spark.sql.catalyst")).getOrElse("")
                val fam = th.getName.replaceAll("[0-9]+", "N")
                hot.synchronized {
                  hot((fam, interesting.get + " || " + ctx)) =
                    hot.getOrElse((fam, interesting.get + " || " + ctx), 0) + 1
                }
              }
            }
          }
        }
        Thread.sleep(8)
      }
    })
    sampler.setDaemon(true)
    if (sampling) sampler.start()
    args.tail.foreach { name =>
      val fn = SparkEntry.queries(name)
      // the sampled stacks are part of each run's value, so the ones
      // printed belong to the run whose time is reported
      val r = Measure.steady(spark) {
        hot.synchronized(hot.clear())
        sampleOn = true
        try { fn(spark, sfDir).count(); hot.synchronized(hot.toMap) }
        finally sampleOn = false
      }
      println(f"TIME $name ${r.seconds}%.2f")
      println(s"  codegen: ${r.codegenCompiles} compilations during measured run " +
        s"(cache misses on a repeat execution)")
      val recs = r.jobs
      println(f"PROFILE $name total=${r.seconds}%.2f s, ${recs.size} jobs, " +
        f"jobWall=${recs.map(_.wallMs).sum / 1e3}%.2f s")
      val byDesc = recs.groupBy(_.label.take(90)).map { case (d, rs) =>
        (d, rs.map(_.wallMs).sum, rs.size, rs.map(_.totals.taskMs).sum,
          rs.map(_.totals.inputBytes).sum,
          rs.map(j => j.totals.shuffleReadBytes + j.totals.shuffleWriteBytes).sum)
      }.toSeq.sortBy(-_._2)
      byDesc.foreach { case (d, wall, n, task, in, shuf) =>
        println(f"  ${wall / 1e3}%6.2fs n=$n%-3d task=${task / 1e3}%6.1fs " +
          f"in=${in / 1e6}%6.1fMB shuf=${shuf / 1e6}%6.1fMB  $d")
      }
      println(s"  -- slowest individual jobs --")
      recs.sortBy(-_.wallMs).take(15).foreach { j =>
        println(f"  job=${j.id}%-4d ${j.wallMs / 1e3}%6.2fs " +
          f"tasks=${j.totals.tasks}%-4d ${j.label.take(110)}")
      }
      if (sampling) {
        val hotSeq = r.value.toSeq
        println(s"  -- busy samples by thread family (8 ms ticks) --")
        hotSeq.groupBy(_._1._1)
          .map { case (fam, xs) => fam -> xs.map(_._2).sum }
          .toSeq.sortBy(-_._2).take(12).foreach { case (fam, n) =>
            println(f"  $n%5d $fam")
          }
        println(s"  -- hottest sampled stacks (8 ms ticks, busy threads) --")
        hotSeq.sortBy(-_._2).take(30).foreach {
          case ((fam, frame), n) =>
            println(f"  $n%4d [$fam] $frame")
        }
        // driver-side families get their own top list (the executor pool
        // swamps the global one)
        Seq("stream execution", "main", "dag-scheduler").foreach { want =>
          println(s"  -- top [$want] stacks --")
          hotSeq.filter(_._1._1.contains(want)).sortBy(-_._2).take(10)
            .foreach { case ((_, frame), n) => println(f"  $n%4d $frame") }
        }
        forkStacks.synchronized(forkStacks.toSeq).foreach { st =>
          println(s"  -- fork stack --\n    $st")
        }
      }
    }
    spark.stop()
  }
}
