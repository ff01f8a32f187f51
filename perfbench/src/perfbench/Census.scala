package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Spans the benchmark records around each call into a layer, kept in
  * memory and written out when the run ends. Untraced runs keep no
  * spans; `span` then only runs its body.
  */
final class Spans(enabled: Boolean) {
  final case class Span(name: String, parent: Int, t0Us: Long, var t1Us: Long)
  val all = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil

  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val idx = all.length
      all += Span(name, open.headOption.getOrElse(-1), Harness.epochUs(), 0L)
      open = idx :: open
      try body
      finally { all(idx).t1Us = Harness.epochUs(); open = open.tail }
    }

  def json: String = all.map(s =>
    s"""{"name":${Harness.js(s.name)},"parent":${s.parent},"t0":${s.t0Us},"t1":${s.t1Us}}""")
    .mkString("[", ",\n", "]")
}

/** One listener for the traced run: records every SQL execution (with
  * the paths its plan reads and writes, so the check side can attribute
  * it to the control plane, the data zones or the versioned table) and
  * every job with its task totals. Attribution to spans happens after
  * the run, by time containment, since listener events arrive late on
  * the bus.
  */
final class Census extends SparkListener {
  final class Exec(val id: Long, val t0: Long, val out: String, val reads: Seq[String]) {
    @volatile var t1: Long = -1L
  }
  final class Job(val id: Int, val t0: Long, val exec: Long) {
    @volatile var t1: Long = -1L
    var taskMs, inBytes, outBytes, shuffleBytes, spillBytes, tasks = 0L
  }
  val execs = TrieMap.empty[Long, Exec]
  val jobs = TrieMap.empty[Int, Job]
  private val stageJob = TrieMap.empty[Int, Job]
  @volatile var sentinelSeen = false

  // the plan description is in Spark's "formatted" explain mode: a
  // write's output path is the first argument of its insert node
  private val WritePath = """(?s)\(\d+\) Execute InsertIntoHadoopFsRelationCommand.*?Arguments: (file:[^\s,]+)""".r
  private val AnyPath = """file:[^\s,\]\)]+""".r

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case s: SparkListenerSQLExecutionStart =>
      val plan = s.physicalPlanDescription
      val out = WritePath.findFirstMatchIn(plan).map(_.group(1)).getOrElse("")
      val reads = AnyPath.findAllIn(plan).filter(_ != out).toSeq.distinct
      execs(s.executionId) = new Exec(s.executionId, s.time, out, reads)
    case e: SparkListenerSQLExecutionEnd =>
      execs.get(e.executionId).foreach(_.t1 = e.time)
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val exec = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    if (Option(j.properties).exists(p => p.getProperty("spark.job.description") == Census.Sentinel))
      sentinelSeen = true
    val job = new Job(j.jobId, j.time, exec)
    jobs(j.jobId) = job
    j.stageIds.foreach(stageJob(_) = job)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = jobs.get(j.jobId).foreach(_.t1 = j.time)

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    for (job <- stageJob.get(t.stageId); m <- Option(t.taskMetrics)) job.synchronized {
      job.tasks += 1
      job.taskMs += m.executorRunTime
      job.inBytes += m.inputMetrics.bytesRead
      job.outBytes += m.outputMetrics.bytesWritten
      job.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      job.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  def json: String = {
    val e = execs.values.toSeq.sortBy(_.id).map(x =>
      s"""{"id":${x.id},"t0":${x.t0},"t1":${x.t1},"out":${Harness.js(x.out)},""" +
        s""""reads":${x.reads.map(Harness.js).mkString("[", ",", "]")}}""")
    val j = jobs.values.toSeq.sortBy(_.id).map(x =>
      s"""{"id":${x.id},"t0":${x.t0},"t1":${x.t1},"exec":${x.exec},"tasks":${x.tasks},""" +
        s""""task_ms":${x.taskMs},"in":${x.inBytes},"out":${x.outBytes},""" +
        s""""shuffle":${x.shuffleBytes},"spill":${x.spillBytes}}""")
    s"""{"execs":${e.mkString("[", ",\n", "]")},"jobs":${j.mkString("[", ",\n", "]")}}"""
  }
}

object Census {
  /** Description of the job the harness runs last: once the listener
    * has seen it start, every earlier job's events have been delivered
    * (one bus queue, in order).
    */
  val Sentinel = "perfbench-sentinel"
}
