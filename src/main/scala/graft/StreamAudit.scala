package graft

/** Throwaway audit harness for the streaming slow-tail rows (run by hand,
  * not part of the gate): times each named stream row (default
  * `stream_exec_ckpt_restart`) twice and dumps every micro-batch's
  * durationMs breakdown via a progress listener. `SPARK_GRAFT_STATE_PARTS`
  * overrides the state-store width (unset: the `stateParts` default).
  */
object StreamAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = if (args.isEmpty) Seq("stream_exec_ckpt_restart") else args.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = context.SessionContext.local(cpus, cpus,
      sys.env.get("SPARK_GRAFT_STATE_PARTS").toSeq
        .map("spark.graft.stream.statePartitions" -> _): _*).spark
    // per-JOB wall + task-time breakdown: micro-batch durationMs says
    // addBatch dominates but not which of the funnel's jobs inside it.
    // Task time is keyed by job through the stage -> job map (streaming
    // overlaps source-listing and batch jobs, so one shared counter would
    // misattribute); entries are dropped when the job ends.
    case class JobAudit(t0: Long, desc: String,
        taskMs: java.util.concurrent.atomic.AtomicLong)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAudit]()
    val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.put(e.jobId, JobAudit(System.nanoTime(),
            String.valueOf(e.properties.getProperty(
              "spark.job.description", "?")).take(90),
            new java.util.concurrent.atomic.AtomicLong))
          e.stageIds.foreach(stageJob.put(_, e.jobId))
        }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) {
            Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
              .foreach(_.taskMs.addAndGet(e.taskMetrics.executorRunTime))
          }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          Option(jobs.remove(e.jobId)).foreach { j =>
            stageJob.values.removeIf(_ == e.jobId): Unit
            println(f"[audit] job=${e.jobId}%4d wall=${
              (System.nanoTime() - j.t0) / 1e6}%7.1fms task=${
              j.taskMs.get}%6dms  ${j.desc}")
          }
      })
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit =
          println(s"[audit] START ${e.name} at ${System.nanoTime() / 1000000}")
        override def onQueryProgress(e: QueryProgressEvent): Unit =
          println(s"[audit] batch=${e.progress.batchId} rows=${e.progress.numInputRows} " +
            s"durationMs=${e.progress.durationMs} " +
            s"state=${Option(e.progress.stateOperators).map(_.toSeq.map(o =>
              s"(rows=${o.numRowsTotal},commit=${o.commitTimeMs}ms)")).getOrElse(Seq())}")
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
          println(s"[audit] END at ${System.nanoTime() / 1000000}")
      })
    // warm-up: session + codegen
    SparkEntry.queries("tpch_q6")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    for (name <- names; i <- 1 to 2) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(s"[audit] TOTAL $name iter$i ${(System.nanoTime() - t0) / 1e9}s")
    }
    spark.stop()
  }
}
