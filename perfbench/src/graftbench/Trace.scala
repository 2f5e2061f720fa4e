package graftbench

import java.time.Instant
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store fed by the benchmark's own listeners.
  *
  * Spans nest query -> build/action -> job -> stage. The runner records
  * each query's window (epoch ms); listener events are attributed to the
  * window that contains their timestamp, so jobs submitted from helper
  * threads (util.Par legs, which do not inherit the job group) land on
  * the right query too. Nothing here touches the program's own code.
  */
final class Trace {
  import Trace._

  val queries = mutable.ArrayBuffer.empty[QuerySpan]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stages = mutable.HashMap.empty[Int, StageAgg]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  val commits = mutable.ArrayBuffer.empty[CommitRec]
  val batches = mutable.ArrayBuffer.empty[BatchRec]

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg)

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = JobRec(e.jobId, e.time, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      val s = stage(e.stageId)
      s.tasks += 1
      if (m != null) {
        val info = e.taskInfo
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shufReadB += m.shuffleReadMetrics.totalBytesRead
        s.shufWriteB += m.shuffleWriteMetrics.bytesWritten
        s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inRecs += m.inputMetrics.recordsRead
        // the scheduler-delay formula of Spark's own UI
        s.delayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime
           else 0L))
      }
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = Trace.this.synchronized {
      val ph = qe.tracker.phases
      def ms(k: String) = ph.get(k).map(p => p.endTimeMs - p.startTimeMs).getOrElse(0L)
      val at = if (ph.isEmpty) System.currentTimeMillis()
               else ph.values.map(_.startTimeMs).min
      plans += PlanRec(at, ms("analysis"), ms("optimization"), ms("planning"),
        scala.util.Try(scanBytes(qe)).getOrElse(0L))
      qe.commandExecuted.foreach {
        case c: InsertIntoHadoopFsRelationCommand =>
          val bytes = qe.executedPlan.collectFirst {
            case w: DataWritingCommandExec => w.cmd.metrics.get("numOutputBytes").map(_.value)
          }.flatten.getOrElse(0L)
          commits += CommitRec(at, durationNs, c.outputPath.toString, bytes)
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
                           e: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Trace.this.synchronized {
        val p = e.progress
        val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        batches += BatchRec(Instant.parse(p.timestamp).toEpochMilli + dur,
          p.runId.toString, dur, p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum)
      }
  }

  private var attached = false

  def attach(spark: SparkSession): Unit = if (!attached) {
    attached = true
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = if (attached) {
    attached = false
    drain(spark)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.GraftBenchShim.drainListeners(spark.sparkContext)

  /** The query span containing `at`, if any. */
  def spanAt(at: Long): Option[QuerySpan] = synchronized {
    queries.find(q => at >= q.t0 && at <= q.t2 + 1)
  }
}

object Trace {
  final case class QuerySpan(pass: Int, query: String,
                             t0: Long, t1: Long, t2: Long, ok: Boolean)
  final case class JobRec(id: Int, start: Long, var end: Long,
                          stages: Seq[Int])
  final class StageAgg {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var delayMs = 0L; var shufReadB = 0L; var shufWriteB = 0L
    var spillB = 0L; var inRecs = 0L
  }
  final case class PlanRec(at: Long, analysisMs: Long,
                           optimizationMs: Long, planningMs: Long,
                           scanB: Long)

  private object Plans extends AdaptiveSparkPlanHelper

  /** Bytes of the files the query's file scans cover (Spark's "size of
    * files read" scan metric). The task input-bytes counter is not used:
    * parquet's vectored reads bypass the Hadoop file-system statistics it
    * comes from, so it counts little more than the footers. */
  def scanBytes(qe: QueryExecution): Long =
    Plans.collectWithSubqueries(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
    }.sum
  final case class CommitRec(at: Long, durNs: Long, path: String, bytes: Long)
  final case class BatchRec(at: Long, run: String, batchMs: Long,
                            inputRows: Long, stateRows: Long)
}
