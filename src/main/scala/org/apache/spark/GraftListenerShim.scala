package org.apache.spark

/** Deterministic listener-bus drain for metric snapshots (see
  * [[graft.obs.Measure]]).
  *
  * The measurement protocol attributes task metrics to a timed run by
  * resetting an accumulator listener before the run and snapshotting
  * after it — which is only correct once the async
  * [[org.apache.spark.scheduler.LiveListenerBus]]
  * has dispatched every task-end event the run produced. A fixed
  * `Thread.sleep` drain races on a loaded machine (late events get
  * attributed to the NEXT run's snapshot); `waitUntilEmpty` is the exact
  * barrier the bus provides, but it is `private[spark]`, hence this
  * one-line shim in the `org.apache.spark` package (the
  * [[org.apache.spark.sql.GraftCheckpointShim]] precedent).
  */
object GraftListenerShim {

  /** Block until every queued listener event has been dispatched.
    * Throws [[java.util.concurrent.TimeoutException]] after
    * `timeoutMillis` — a stuck bus should fail the measurement loudly,
    * never silently mis-attribute metrics. */
  def waitUntilListenerBusEmpty(sc: SparkContext,
                                timeoutMillis: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
