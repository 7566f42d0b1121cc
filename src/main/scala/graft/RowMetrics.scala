package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graftaccess.drainListeners
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The one metrics listener: what a session's jobs and micro-batches
  * cost, read back per row. [[RowMetrics.attach]] registers one
  * `SparkListener`, which sums each job's stages, tasks, executor run
  * time, shuffle bytes and spill through the stage -> job map from
  * `onJobStart` (jobs overlap — a streaming query lists its source while a
  * batch runs — so one shared counter would misattribute), one
  * `StreamingQueryListener`, which records every micro-batch's progress,
  * and one `QueryExecutionListener`, which keeps every finished
  * `QueryExecution` — its executed plan is the plan that ran, AQE's final
  * plan included.
  *
  * [[take]] drains the listener bus before it reads, so what it returns
  * is exact for every action that has returned: no grace sleep, no
  * polling. Call it between rows, when no job runs: it clears what it
  * returns, stage map included.
  */
final class RowMetrics private (spark: SparkSession) {
  import RowMetrics._

  // guarded by `this`: the listeners run on different bus queues
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val batches = mutable.ArrayBuffer.empty[Batch]
  private val plans = mutable.ArrayBuffer.empty[QueryExecution]

  private def update(stageId: Int)(f: Job => Job): Unit = synchronized {
    stageJob.get(stageId).flatMap(jobs.get).foreach(j => jobs(j.id) = f(j))
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) =
        Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
      // every SQL job also carries Spark's "spark-session-…" tags, which
      // say nothing about the row; a broadcast's own tag is kept
      val tags = prop("spark.job.tags").split(",").toSet
        .filter(t => t.nonEmpty && !t.startsWith("spark-session-"))
      RowMetrics.this.synchronized {
        jobs(e.jobId) = Job(e.jobId, prop("spark.job.description"), tags,
          e.time, -1L, 0, 0, 0L, 0L, 0L, 0L, 0L)
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      update(e.stageInfo.stageId)(j => j.copy(stages = j.stages + 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      update(e.stageId) { j =>
        val m = e.taskMetrics
        if (m == null) j.copy(tasks = j.tasks + 1)
        else j.copy(tasks = j.tasks + 1,
          runMs = j.runMs + m.executorRunTime,
          shuffleReadBytes = j.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
          shuffleWriteBytes = j.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
          memorySpillBytes = j.memorySpillBytes + m.memoryBytesSpilled,
          diskSpillBytes = j.diskSpillBytes + m.diskBytesSpilled)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      RowMetrics.this.synchronized {
        jobs.get(e.jobId).foreach(j => jobs(j.id) = j.copy(endMs = e.time))
      }
  }

  private val batchListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val state = p.stateOperators.toSeq
      val b = Batch(String.valueOf(p.name), p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        state.map(_.numRowsTotal).sum, state.map(_.commitTimeMs).sum)
      RowMetrics.this.synchronized { batches += b }: Unit
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      RowMetrics.this.synchronized { plans += qe }: Unit
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Everything recorded since the last call, in start order; clears it. */
  def take(): Taken = {
    drainListeners(spark.sparkContext)
    synchronized {
      val out = Taken(jobs.values.toSeq, batches.toSeq, plans.toSeq)
      jobs.clear(); stageJob.clear(); batches.clear(); plans.clear()
      out
    }
  }

  /** Unregisters the listeners. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(batchListener)
    spark.listenerManager.unregister(planListener)
  }
}

object RowMetrics {

  /** One job's sums. `tags` are the job tags set through [[tagged]] or
    * `addJobTag`; `endMs` is -1 while the job runs.
    */
  final case class Job(id: Int, description: String, tags: Set[String],
      startMs: Long, endMs: Long, stages: Int, tasks: Int, runMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memorySpillBytes: Long, diskSpillBytes: Long) {
    def wallMs: Long = if (endMs < 0) -1L else endMs - startMs
  }

  /** One micro-batch's progress; state figures summed over operators. */
  final case class Batch(query: String, id: Long, inputRows: Long,
      durationMs: Map[String, Long], stateRows: Long, stateCommitMs: Long)

  /** `plans`: the query executions that finished, in finish order. */
  final case class Taken(jobs: Seq[Job], batches: Seq[Batch],
      plans: Seq[QueryExecution]) {
    def total(f: Job => Long): Long = jobs.map(f).sum
  }

  /** Runs `body` with `tag` on every job it starts — from this thread and
    * from threads it creates — and removes the tag afterwards, so a row's
    * jobs carry its name and later jobs do not.
    */
  def tagged[A](spark: SparkSession, tag: String)(body: => A): A = {
    spark.sparkContext.addJobTag(tag)
    try body finally spark.sparkContext.removeJobTag(tag)
  }

  def attach(spark: SparkSession): RowMetrics = {
    val m = new RowMetrics(spark)
    spark.sparkContext.addSparkListener(m.jobListener)
    spark.streams.addListener(m.batchListener)
    spark.listenerManager.register(m.planListener)
    m
  }
}
