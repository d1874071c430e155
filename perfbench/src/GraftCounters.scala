package graft

import org.apache.spark.sql.DataFrame

/** `Pipeline.run`'s metrics counters, which are `private[graft]`, so that
  * the traced `segments_small` operation runs the same counters job as the
  * untraced one. Lives in this package for that reason only. */
object PerfbenchCounters {
  def apply(input: DataFrame, holdouts: DataFrame, candidates: DataFrame,
            allEdges: DataFrame, assignments: DataFrame): Map[String, Long] =
    Pipeline.pipelineCounters(input, holdouts, candidates, allEdges, assignments)
}
