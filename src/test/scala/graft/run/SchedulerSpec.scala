package graft.run

import java.time.LocalDate
import org.scalatest.funsuite.AnyFunSuite

class SchedulerSpec extends AnyFunSuite {

  private val d = LocalDate.parse(_: String)

  test("catchup=true backlogs every unrun date in [start, today), oldest first") {
    val pending = Scheduler.pendingDates(
      d("2024-01-01"), d("2024-01-05"), _ == d("2024-01-02"), catchup = true)
    assert(pending == Seq(d("2024-01-01"), d("2024-01-03"), d("2024-01-04")))
  }

  test("catchup=false runs only the latest complete interval") {
    val pending = Scheduler.pendingDates(
      d("2024-01-01"), d("2024-01-05"), _ => false, catchup = false)
    assert(pending == Seq(d("2024-01-04")))
  }

  test("today's interval is not complete; nothing pending before start") {
    assert(Scheduler.pendingDates(d("2024-01-05"), d("2024-01-05"), _ => false, true).isEmpty)
    assert(Scheduler.pendingDates(d("2024-01-06"), d("2024-01-05"), _ => false, true).isEmpty)
  }

  test("sweep marks successes, leaves failures pending, and is idempotent") {
    val ledger = java.nio.file.Files.createTempDirectory("sched_spec").toString
    val runs = scala.collection.mutable.ArrayBuffer.empty[LocalDate]
    // first sweep: 01-02 fails, the rest succeed — failure must not block
    // later dates (depends_on_past=False)
    val r1 = Scheduler.sweep(ledger, d("2024-01-01"), d("2024-01-04")) { date =>
      runs += date
      if (date == d("2024-01-02")) sys.error("transient outage")
    }
    assert(r1.ran == Seq(d("2024-01-01"), d("2024-01-03")))
    assert(r1.failed == Seq(d("2024-01-02")))
    // second sweep: only the failed date is retried (exactly-once ledger)
    val r2 = Scheduler.sweep(ledger, d("2024-01-01"), d("2024-01-04")) { date =>
      runs += date
    }
    assert(r2.ran == Seq(d("2024-01-02")) && r2.failed.isEmpty)
    // third sweep: nothing pending — markers persist
    val r3 = Scheduler.sweep(ledger, d("2024-01-01"), d("2024-01-04")) { date =>
      fail(s"unexpected re-run of $date")
    }
    assert(r3.ran.isEmpty && r3.failed.isEmpty)
    assert(runs.size == 4)
  }

  test("sweep composes with per-task retries: a flaky task succeeds in-run") {
    val ledger = java.nio.file.Files.createTempDirectory("sched_retry").toString
    var attempts = 0
    val r = Scheduler.sweep(ledger, d("2024-01-01"), d("2024-01-02")) { _ =>
      PipelineMain.withRetries("flaky", retries = 5) {
        attempts += 1
        if (attempts < 3) sys.error("transient")
      }
    }
    assert(r.ran == Seq(d("2024-01-01")) && attempts == 3)
  }

  test("a fatal error aborts the sweep; dates done before it stay marked") {
    val ledger = java.nio.file.Files.createTempDirectory("sched_fatal").toString
    val runs = scala.collection.mutable.ArrayBuffer.empty[LocalDate]
    intercept[InterruptedException] {
      Scheduler.sweep(ledger, d("2024-01-01"), d("2024-01-04")) { date =>
        runs += date
        if (date == d("2024-01-02")) throw new InterruptedException("stop")
      }
    }
    // the interrupt is not swallowed as a failed date: later dates never run
    assert(runs == Seq(d("2024-01-01"), d("2024-01-02")))
    assert(Scheduler.isDone(ledger, d("2024-01-01")))
    assert(!Scheduler.isDone(ledger, d("2024-01-02")))
    val r = Scheduler.sweep(ledger, d("2024-01-01"), d("2024-01-04"))(_ => ())
    assert(r.ran == Seq(d("2024-01-02"), d("2024-01-03")) && r.failed.isEmpty)
  }
}
