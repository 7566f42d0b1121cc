package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftaccess.drainListeners
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The one metrics listener: what a session's jobs and micro-batches
  * cost, read back per row. [[RowMetrics.attach]] registers one
  * `SparkListener`, which sums each job's stages, tasks, executor run
  * time, shuffle bytes and spill through the stage -> job map from
  * `onJobStart` (jobs overlap — a streaming query lists its source while a
  * batch runs — so one shared counter would misattribute), and one
  * `StreamingQueryListener`, which records every micro-batch's progress.
  *
  * [[take]] drains the listener bus before it reads, so what it returns
  * is exact for every action that has returned: no grace sleep, no
  * polling. Call it between rows, when no job runs: it clears what it
  * returns, stage map included.
  */
final class RowMetrics private (spark: SparkSession) {
  import RowMetrics._

  // guarded by `this`: the two listeners run on different bus queues
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val batches = mutable.ArrayBuffer.empty[Batch]

  private def update(stageId: Int)(f: Job => Job): Unit = synchronized {
    stageJob.get(stageId).flatMap(jobs.get).foreach(j => jobs(j.id) = f(j))
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      RowMetrics.this.synchronized {
        jobs(e.jobId) = Job(e.jobId, desc, e.time, -1L, 0, 0, 0L, 0L, 0L, 0L, 0L)
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

  /** Everything recorded since the last call, in start order; clears it. */
  def take(): Taken = {
    drainListeners(spark.sparkContext)
    synchronized {
      val out = Taken(jobs.values.toSeq, batches.toSeq)
      jobs.clear(); stageJob.clear(); batches.clear()
      out
    }
  }

  /** Unregisters both listeners. */
  def close(): Unit = {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(batchListener)
  }
}

object RowMetrics {

  /** One job's sums. `endMs` is -1 while the job runs. */
  final case class Job(id: Int, description: String, startMs: Long,
      endMs: Long, stages: Int, tasks: Int, runMs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memorySpillBytes: Long, diskSpillBytes: Long) {
    def wallMs: Long = if (endMs < 0) -1L else endMs - startMs
  }

  /** One micro-batch's progress; state figures summed over operators. */
  final case class Batch(query: String, id: Long, inputRows: Long,
      durationMs: Map[String, Long], stateRows: Long, stateCommitMs: Long)

  final case class Taken(jobs: Seq[Job], batches: Seq[Batch]) {
    def total(f: Job => Long): Long = jobs.map(f).sum
  }

  def attach(spark: SparkSession): RowMetrics = {
    val m = new RowMetrics(spark)
    spark.sparkContext.addSparkListener(m.jobListener)
    spark.streams.addListener(m.batchListener)
    m
  }
}
