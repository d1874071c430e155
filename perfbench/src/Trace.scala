package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.PerfbenchPlanning
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

import scala.collection.mutable

/** Spark cost folded per group. Every job the benchmark starts runs under
  * the local property [[GroupFold.Key]] naming what it belongs to: `op<i>`
  * for a whole untraced operation, `op<i>/<stage>` for one stage span of a
  * traced operation. A property of its own, so it cannot clash with a job
  * group set by a caller or by Spark; local properties are inherited by
  * the threads Spark runs nested jobs on. One
  * listener serves both modes: task metrics are keyed by the group of the
  * stage that ran the task, planning time by the group of the SQL
  * execution's jobs. Planning time is read from the execution-end event of
  * every execution, nested ones included; a `QueryExecutionListener` is
  * only told about root executions.
  */
final class GroupFold extends SparkListener {

  final class Acc {
    var jobs = 0
    var tasks = 0
    var runMs = 0L
    var gcMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  private val ExecKey = "spark.sql.execution.id"
  private val accs = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val execGroup = mutable.HashMap.empty[Long, String]
  private val execPlanningMs = mutable.HashMap.empty[Long, Long]

  private def acc(group: String): Acc = accs.getOrElseUpdate(group, new Acc)

  private def groupOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty(GroupFold.Key)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      acc(g).jobs += 1
      e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
      Option(e.properties.getProperty(ExecKey)).flatMap(_.toLongOption)
        .foreach(id => execGroup.getOrElseUpdate(id, g))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    groupOf(e.properties).foreach(g => stageGroup(e.stageInfo.stageId) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageGroup.get(e.stageId).foreach { g =>
      val a = acc(g)
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.taskMs += m.executorRunTime
      }
    }
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionEnd =>
      val ms = PerfbenchPlanning.millis(e)
      synchronized { execPlanningMs(e.executionId) = ms }
    case _ =>
  }

  /** Folded metrics of one group; call after [[org.apache.spark.PerfbenchDrain]]. */
  def get(group: String): Option[Acc] = synchronized(accs.get(group))

  /** Planning milliseconds of every SQL execution whose jobs ran in `group`. */
  def planningMs(group: String): Long = synchronized {
    execPlanningMs.iterator.collect {
      case (id, ms) if execGroup.get(id).contains(group) => ms
    }.sum
  }
}

object GroupFold {
  val Key = "perfbench.group"

  /** Runs `body` with every job it starts labelled `group`, then restores
    * the enclosing label. */
  def within[A](sc: SparkContext, group: String)(body: => A): A = {
    val outer = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, group)
    sc.setJobDescription(group)
    try body
    finally { sc.setLocalProperty(Key, outer); sc.setJobDescription(outer) }
  }
}

/** One timed interval around a call into a layer. Spans of one operation
  * share `op`; every stage span's parent is its operation. */
final case class Span(op: Int, name: String, startNs: Long, endNs: Long, rowsOut: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Stage spans are flat (one stage at a time),
  * so a span's self time is its duration. */
final class Tracer(sc: SparkContext) {
  val spans = mutable.ArrayBuffer.empty[Span]

  /** Runs `body` in the group `op<op>/<name>`; `body` returns its value
    * and the rows its forced output holds. */
  def span[A](op: Int, name: String)(body: => (A, Long)): A =
    GroupFold.within(sc, s"op$op/$name") {
      val t0 = System.nanoTime()
      val (a, rows) = body
      spans += Span(op, name, t0, System.nanoTime(), rows)
      a
    }

  def of(op: Int): Seq[Span] = spans.filter(_.op == op).toSeq

  def writeJsonLines(path: java.nio.file.Path, workload: String): Unit = {
    val lines = spans.map { s =>
      f"""{"workload":"$workload","op":${s.op},"parent":"op${s.op}","name":"${s.name}",""" +
        f""""start_ns":${s.startNs},"end_ns":${s.endNs},"rows_out":${s.rowsOut}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
  }
}
