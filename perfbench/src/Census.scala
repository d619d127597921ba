package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Collects every micro-batch progress report of the session's queries
  * (the public StreamingQueryListener API). Cheap; used by both the
  * untraced and the traced runs to follow batch boundaries.
  */
final class ProgressLog extends StreamingQueryListener {
  // (System.nanoTime at receipt, report)
  private val buf = mutable.ArrayBuffer.empty[(Long, StreamingQueryProgress)]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    synchronized { buf += (System.nanoTime() -> e.progress) }
  def all: Seq[(Long, StreamingQueryProgress)] = synchronized(buf.toList)
  /** Progress reports of batches that read at least one row. */
  def dataBatches: Seq[StreamingQueryProgress] = all.map(_._2).filter(_.numInputRows > 0)
}

/** Job/stage/task census from a SparkListener, keyed by the group a
  * job belongs to: the micro-batch id for streaming jobs, the job group
  * for panel queries. Only registered in traced runs.
  */
final class JobCensus extends SparkListener {
  final class Acc {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var taskMs = 0L; var recordsRead = 0L
  }
  private val byGroup = mutable.HashMap.empty[String, Acc]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  // SQL execution id -> micro-batch id, from the jobs it ran
  private val execBatch = mutable.HashMap.empty[Long, Long]
  // the formatted plan lists the write's arguments, output path first
  private val InsertPath =
    """Execute InsertIntoHadoopFsRelationCommand\s*\n[^\n]*\nArguments: ([^,\s]+)""".r

  private def groupOf(props: java.util.Properties): String =
    if (props == null) "none"
    else Option(props.getProperty("streaming.sql.batchId")).map("batch:" + _)
      .orElse(Option(props.getProperty("spark.jobGroup.id")).map("query:" + _))
      .getOrElse("none")

  private def acc(g: String): Acc = byGroup.getOrElseUpdate(g, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    acc(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
    if (e.properties != null)
      for (x <- Option(e.properties.getProperty("spark.sql.execution.id"));
           b <- Option(e.properties.getProperty("streaming.sql.batchId")))
        execBatch(x.toLong) = b.toLong
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    acc(stageGroup.getOrElse(e.stageInfo.stageId, groupOf(e.properties))).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = acc(stageGroup.getOrElse(e.stageId, "none"))
    a.tasks += 1
    if (e.taskInfo != null) a.taskMs += e.taskInfo.duration
    if (e.taskMetrics != null) {
      val r = e.taskMetrics.inputMetrics.recordsRead
      a.recordsRead += r
    }
  }
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      val out = InsertPath.findFirstMatchIn(s.physicalPlanDescription).map(_.group(1))
      synchronized {
        execs(s.executionId) = Exec(s.executionId, s.rootExecutionId.getOrElse(s.executionId),
          s.time, -1L, out)
      }
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd =>
      synchronized { execs.get(s.executionId).foreach(x => execs(s.executionId) = x.copy(endMs = s.time)) }
    case _ => ()
  }

  def groups: Map[String, (Long, Long, Long, Long, Long)] = synchronized {
    byGroup.map { case (g, a) => g -> (a.jobs, a.stages, a.tasks, a.taskMs, a.recordsRead) }.toMap
  }

  /** Spark actions nested inside a micro-batch's execution (the
    * foreachBatch body), with the batch they ran in.
    */
  def batchActions: Seq[(Long, Exec)] = synchronized {
    execs.values.toList.filter(x => x.root != x.id && x.endMs >= 0).flatMap { x =>
      execBatch.get(x.id).orElse(execBatch.get(x.root)).map(_ -> x)
    }
  }
}

/** One SQL execution: its root (itself unless nested), times, and the
  * path it wrote, if it was a file write.
  */
final case class Exec(id: Long, root: Long, startMs: Long, endMs: Long, output: Option[String]) {
  def ms: Double = (endMs - startMs).toDouble
}

object Census {
  def register(spark: SparkSession, jobs: JobCensus): Unit =
    spark.sparkContext.addSparkListener(jobs)
  def durations(p: StreamingQueryProgress): Map[String, Long] =
    p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
}
