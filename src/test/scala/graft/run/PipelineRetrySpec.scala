package graft.run

import org.scalatest.funsuite.AnyFunSuite

/** The orchestrator retry contract (reference parity: each Airflow task
  * declares retries=5, dags/earthquake_etl_dag.py:106,115,125): a stage
  * that fails transiently completes on a later attempt; a stage that keeps
  * failing surfaces its final error after the budget is spent. */
class PipelineRetrySpec extends AnyFunSuite {

  test("a transient failure recovers within the retry budget") {
    var calls = 0
    val out = PipelineMain.withRetries("stage", retries = 5) {
      calls += 1
      if (calls == 1) sys.error("transient blip")
      42
    }
    assert(out == 42)
    assert(calls == 2)
  }

  test("a persistent failure propagates after retries are exhausted") {
    var calls = 0
    val e = intercept[RuntimeException] {
      PipelineMain.withRetries("stage", retries = 3) {
        calls += 1
        sys.error("permanent")
      }
    }
    assert(e.getMessage == "permanent")
    assert(calls == 4) // 1 initial + 3 retries
  }

  test("a fatal error propagates on the first attempt, never retried") {
    var calls = 0
    intercept[InterruptedException] {
      PipelineMain.withRetries("stage", retries = 5) {
        calls += 1
        throw new InterruptedException("stop")
      }
    }
    assert(calls == 1)
    calls = 0
    intercept[StackOverflowError] {
      PipelineMain.withRetries("stage", retries = 5) {
        calls += 1
        throw new StackOverflowError("vm")
      }
    }
    assert(calls == 1)
  }
}
