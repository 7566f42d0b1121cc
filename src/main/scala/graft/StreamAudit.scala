package graft

/** Throwaway audit harness for the streaming slow-tail rows (run by hand,
  * not part of the gate): times a named stream row and dumps every
  * micro-batch's durationMs breakdown via a progress listener.
  */
object StreamAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val name = args.headOption.getOrElse("stream_exec_ckpt_restart")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = context.SessionContext.local(cpus, cpus,
      "spark.graft.stream.statePartitions" ->
        sys.env.getOrElse("SPARK_GRAFT_STATE_PARTS", "8")).spark
    // per-JOB wall + task-time breakdown: micro-batch durationMs says
    // addBatch dominates but not which of the funnel's jobs inside it
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        private val taskMs = new java.util.concurrent.atomic.AtomicLong
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobStart.put(e.jobId, (System.nanoTime(),
            String.valueOf(e.properties.getProperty(
              "spark.job.description", "?")).take(90)))
          taskMs.set(0): Unit
        }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) {
            taskMs.addAndGet(e.taskMetrics.executorRunTime): Unit
          }
        override def onJobEnd(
            e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
          val (t0, desc) = jobStart.getOrDefault(e.jobId, (0L, "?"))
          println(f"[audit] job=${e.jobId}%4d wall=${
            (System.nanoTime() - t0) / 1e6}%7.1fms task=${
            taskMs.get}%6dms  $desc")
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
    for (i <- 1 to 2) {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      println(s"[audit] TOTAL iter$i ${(System.nanoTime() - t0) / 1e9}s")
    }
    spark.stop()
  }
}
