package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** The listeners of a traced pass; attached only while one runs, so an
  * untraced pass pays nothing for them. */
final class Listeners(spark: SparkSession, attr: Attribution) {
  private val MB = 1024.0 * 1024.0

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).map(_.getProperty(Listeners.SpanProperty)).orNull
      // The short call site names the first frame outside Spark: a schema
      // inference job launched by the table loaders reads "parquet at
      // Tables.scala:NN".
      val fromTables = e.stageInfos.exists(_.name.contains("Tables.scala"))
      attr.jobStart(tag, e.jobId, e.time.toDouble, e.stageIds, fromTables)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      attr.jobEnd(e.jobId, e.time.toDouble, e.jobResult == JobSucceeded)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      attr.stageCompleted(e.stageInfo.stageId)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) attr.taskEnd(e.stageId, Seq(
        "task_cpu_s" -> m.executorCpuTime / 1e9,
        "shuffle_write_mb" -> m.shuffleWriteMetrics.bytesWritten / MB,
        "shuffle_read_mb" -> m.shuffleReadMetrics.totalBytesRead / MB,
        "spill_mb" -> m.diskBytesSpilled / MB,
        "input_mb" -> m.inputMetrics.bytesRead / MB))
      else attr.taskEnd(e.stageId, Nil)
    }
  }

  private val plans = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val written = scala.util.Try(Listeners.writtenBytes(qe.executedPlan)).getOrElse(0.0) / MB
      attr.untagged { c =>
        c.add("executions", 1)
        c.add("output_mb", written)
        Seq("analysis" -> "analysis_s", "optimization" -> "optimizer_s", "planning" -> "planning_s")
          .foreach { case (phase, name) => phases.get(phase).foreach(p => c.add(name, p.durationMs / 1e3)) }
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val trigger = d.getOrElse("triggerExecution", 0.0)
      attr.untagged { c =>
        c.add("batches", 1)
        c.add("trigger_s", trigger)
        Seq("addBatch" -> "add_batch_s", "walCommit" -> "wal_commit_s",
          "commitOffsets" -> "commit_offsets_s", "queryPlanning" -> "query_planning_s")
          .foreach { case (phase, name) => c.add(name, d.getOrElse(phase, 0.0)) }
        c.children += Span("stream.trigger", start, start + trigger * 1e3,
          Map("batch" -> p.batchId, "rows" -> p.numInputRows))
      }
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(jobs)
    spark.listenerManager.unregister(plans)
    spark.streams.removeListener(streams)
  }
}

object Listeners {
  /** Bytes the file writes of a plan committed, as its write commands
    * count them (`numOutputBytes`). */
  def writtenBytes(plan: SparkPlan): Double = plan match {
    case a: AdaptiveSparkPlanExec => writtenBytes(a.executedPlan)
    case c: CommandResultExec => writtenBytes(c.commandPhysicalPlan)
    case p => p.metrics.get("numOutputBytes").fold(0.0)(_.value.toDouble) +
      p.children.map(writtenBytes).sum
  }

  /** Local property naming the span a job belongs to; child threads (stream
    * executions, broadcast and subquery pools) inherit it. */
  val SpanProperty = "perfbench.span"
}
