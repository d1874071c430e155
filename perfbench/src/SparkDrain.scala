package org.apache.spark {

  /** Blocks until every event already posted to the context's listener bus
    * has been delivered. The trace folds task and planning metrics from
    * listener callbacks, which arrive asynchronously; reading the folds
    * without draining first would drop the tail of the last span. Lives in
    * this package because the bus is `private[spark]`. */
  object PerfbenchDrain {
    def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
  }
}

package org.apache.spark.sql {

  import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

  /** Analysis + optimization + planning milliseconds of the query an
    * execution-end event reports. The event carries its `QueryExecution`
    * only to `sql`-package code. */
  object PerfbenchPlanning {
    def millis(e: SparkListenerSQLExecutionEnd): Long =
      Option(e.qe).map { qe =>
        val phases = qe.tracker.phases
        Seq("analysis", "optimization", "planning").flatMap(phases.get).map(_.durationMs).sum
      }.getOrElse(0L)
  }
}
