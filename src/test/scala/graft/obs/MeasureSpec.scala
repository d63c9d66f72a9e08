package graft.obs

import graft.SparkSpec
import graft.plans.JobLabel
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** The measurement protocol: a sample's job records are complete once the
  * bus has drained, hold nothing of earlier work, belong to the run whose
  * time is reported, and carry the phase label. */
class MeasureSpec extends SparkSpec {

  private def label(): String = "measure-spec-" + java.util.UUID.randomUUID()

  test("N collects inside a sample record exactly N jobs") {
    val tag = label()
    // a slow listener on the same queue holds back the job-start events,
    // so the sample's own drain, not timing luck, must bring them in
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    spark.sparkContext.addSparkListener(slow)
    val s = try {
      // unlabeled work just before the sample must not leak into it
      (1 to 3).foreach(_ => spark.range(100).collect())
      Measure.sample(spark) {
        JobLabel.labeled(spark, tag) {
          (1 to 4).foreach(_ => spark.range(1000).collect())
        }
      }
    } finally spark.sparkContext.removeSparkListener(slow)
    assert(s.jobs.count(_.label == tag) == 4, s.jobs.map(_.label))
    assert(s.jobs.size == 4, s.jobs.map(_.label))
    assert(s.jobs.forall(j => j.endMs >= j.startMs && j.totals.tasks > 0))
    assert(s.totals.tasks == s.jobs.map(_.totals.tasks).sum)
    assert(s.seconds > 0)
  }

  test("steady returns the metrics of the run whose time it returns") {
    // run 1 warms; run 2 is slow with 3 jobs; run 3 is fast with 1 job
    def body(jobsPerRun: Seq[Int], sleepMs: Seq[Long]): Sample[Int] = {
      var run = 0
      Measure.steady(spark) {
        (1 to jobsPerRun(run)).foreach(_ => spark.range(10).collect())
        Thread.sleep(sleepMs(run))
        run += 1
        run
      }
    }
    val fastLast = body(Seq(2, 3, 1), Seq(0L, 400L, 0L))
    assert(fastLast.value == 3)
    assert(fastLast.jobs.size == 1)
    val fastFirst = body(Seq(2, 1, 3), Seq(0L, 0L, 400L))
    assert(fastFirst.value == 2)
    assert(fastFirst.jobs.size == 1)
    assert(fastFirst.seconds < 0.4)
  }

  test("a body that throws propagates its exception") {
    val e = intercept[IllegalStateException] {
      Measure.sample(spark)(throw new IllegalStateException("boom"))
    }
    assert(e.getMessage == "boom")
    var runs = 0
    intercept[IllegalStateException] {
      Measure.steady(spark) {
        runs += 1
        throw new IllegalStateException("boom")
      }
    }
    assert(runs == 1)
  }

  test("a JobLabel label shows up in the job records") {
    val tag = label()
    val s = Measure.sample(spark) {
      spark.range(10).collect()
      JobLabel.labeled(spark, tag)(spark.range(10).count())
    }
    assert(s.jobs.map(_.label).count(_ == tag) >= 1, s.jobs.map(_.label))
    assert(s.jobs.exists(_.label != tag))
    assert(s.value == 10L)
  }
}
