package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.SparkPartitionID
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.BenchAccess

/** Local properties the benchmark sets on the jobs it starts. */
object Props {
  /** Name of the layer span open on the driver thread (served path). */
  val Span = "perfbench.span"
  /** Set on the benchmark's own jobs (output checks, row counts). */
  val Own = "perfbench.own"
}

final case class JobRec(id: Int, startMs: Long, execId: Long, rootExecId: Long,
                        span: String, own: Boolean, stageIds: Seq[Int])
final case class TaskRec(stageId: Int, durationMs: Long, shuffleWriteBytes: Long,
                         diskSpillBytes: Long)

/**
 * Records every job, task and SQL execution of the session. It is
 * registered in every run: the end-to-end job and shuffle counts come
 * from it. With `classify` on (traced runs) it also records what each
 * finished execution did, so jobs can be charged to pipeline stages from
 * outside the program. Events arrive on Spark's listener bus thread;
 * readers call [[BenchAccess.drain]] first.
 */
final class Recorder extends SparkListener {
  @volatile var classify = false
  /** execution id -> what it did (traced runs only) */
  val kinds = new ConcurrentHashMap[Long, ExecKind]()
  val jobs = new ArrayBuffer[JobRec]()
  val tasks = new ArrayBuffer[TaskRec]()
  /** execution id -> (start ms, end ms, root execution id) */
  val execs = new ConcurrentHashMap[Long, Array[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = e.properties
    def prop(k: String): Option[String] = Option(p).flatMap(q => Option(q.getProperty(k)))
    val exec = prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L)
    val root = prop("spark.sql.execution.root.id").map(_.toLong).getOrElse(exec)
    jobs += JobRec(e.jobId, e.time, exec, root, prop(Props.Span).orNull,
      prop(Props.Own).isDefined, e.stageIds)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null)
      tasks += TaskRec(e.stageId, e.taskInfo.duration,
        m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId,
        Array(s.time, Long.MaxValue, s.rootExecutionId.getOrElse(s.executionId)))
    case s: SparkListenerSQLExecutionEnd =>
      Option(execs.get(s.executionId)).foreach(_(1) = s.time)
      if (classify)
        BenchAccess.queryExecution(s).foreach(qe => kinds.put(s.executionId, ExecKind.of(qe)))
    case _ =>
  }

  /** Jobs the program started in [fromMs, toMs]: the benchmark's own are left out. */
  def programJobs(fromMs: Long, toMs: Long): Seq[JobRec] = synchronized {
    jobs.filter(j => !j.own && j.startMs >= fromMs && j.startMs <= toMs).toSeq
  }

  /** What the root execution of a job's query did; a nested execution
   *  (the insert inside a `saveAsTable`) is charged to its root. */
  def kindOf(j: JobRec): ExecKind = {
    val root = Option(execs.get(j.execId)).map(_(2)).getOrElse(j.rootExecId)
    Option(kinds.get(root)).getOrElse(ExecKind.Other)
  }

  /** Tasks of the given jobs, each stage counted once. */
  def tasksOf(js: Seq[JobRec]): Seq[TaskRec] = synchronized {
    val stages = js.flatMap(_.stageIds).toSet
    tasks.filter(t => stages.contains(t.stageId)).toSeq
  }
}

/** What a root SQL execution did, read from its analyzed plan. */
sealed trait ExecKind
object ExecKind {
  final case class Write(path: String) extends ExecKind
  case object Bucketed extends ExecKind
  case object Lineage extends ExecKind
  case object Other extends ExecKind

  /**
   * A parquet write names its stage directory, a `saveAsTable` (planned
   * as one of the table-creating commands matched by name) is the bucketed
   * model write, and a `spark_partition_id` aggregate is a commit's
   * lineage scan.
   */
  def of(qe: QueryExecution): ExecKind = {
    val plan = qe.analyzed
    plan.collectFirst { case c: InsertIntoHadoopFsRelationCommand => Write(c.outputPath.toString) }
      .getOrElse {
        if (plan.exists(p => Seq("SaveAsV1Table", "CreateTableAsSelect",
            "CreateDataSourceTableAsSelect").exists(p.nodeName.startsWith))) Bucketed
        else if (plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[SparkPartitionID]))))
          Lineage
        else Other
      }
  }
}
