package graft

/** By-hand per-row audit (not part of the gate): runs named
  * `SparkEntry.queries` rows end to end, each from construction through a
  * `noop` write (the Bench.runOnce convention), and prints for each:
  *  - one summary line: wall time, jobs, stages, tasks, shuffle bytes,
  *    summed task time and spill — a 2 s row with 40 jobs is scheduling
  *    cost, a 2 s row with 3 jobs and 2 GB of shuffle is data-plane cost;
  *  - one line per job (wall, tasks, task time, description);
  *  - one line per micro-batch (input rows, `durationMs`, state rows and
  *    commit time);
  *  - the executed physical plan.
  *
  * Usage: `sbt "runMain graft.Audit <sfDir> <row> [<row>...]"`. An
  * untimed `tpch_q6` runs first; naming a row twice times a warm second
  * run. Cores come from `SPARK_GRAFT_CPUS` (default: the machine's).
  * With `SPARK_GRAFT_PLAN_OUT=<dir>`, each row's full
  * `explain("formatted")` also goes to `<dir>/<row>.txt` — write before
  * and after plans to two directories. A state-width sweep passes
  * `-Dspark.graft.stream.statePartitions=N` to the forked JVM: Spark
  * copies `spark.*` system properties into every session's conf.
  */
object Audit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Audit <sfDir> <row> [<row>...]")
    val sfDir = args(0)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = context.SessionContext.local(cpus, cpus).spark
    spark.sparkContext.setLogLevel("ERROR")
    val metrics = RowMetrics.attach(spark)
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    outDir.foreach(d => new java.io.File(d).mkdirs(): Unit)
    def mb(b: Long) = f"${b / 1e6}%.1f MB"
    def run(q: String) = {
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      (df, (System.nanoTime() - t0) / 1e9)
    }
    try {
      run("tpch_q6")
      Caches.releaseAll(spark)
      metrics.take()
      for (q <- args.drop(1)) {
        println(s"===== $q =====")
        val ran = try Right(run(q))
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        Caches.releaseAll(spark)
        val m = metrics.take()
        ran match {
          case Left(e) => println(s"[audit] $q FAILED: ${e.getMessage}")
          case Right((df, wall)) =>
            println(f"[audit] $q wall $wall%.3f s jobs ${m.jobs.size} " +
              s"stages ${m.total(_.stages)} tasks ${m.total(_.tasks)} " +
              s"shuffle read ${mb(m.total(_.shuffleReadBytes))} " +
              s"write ${mb(m.total(_.shuffleWriteBytes))} " +
              f"task ${m.total(_.runMs) / 1e3}%.1f s " +
              s"spill ${mb(m.total(_.memorySpillBytes))} memory " +
              s"${mb(m.total(_.diskSpillBytes))} disk")
            m.jobs.foreach(j => println(f"[audit]   job ${j.id}%4d " +
              f"wall ${j.wallMs}%6d ms tasks ${j.tasks}%4d task ${j.runMs}%6d ms " +
              j.description.take(90)))
            m.batches.foreach(b => println(s"[audit]   batch ${b.query}#${b.id} " +
              s"rows ${b.inputRows} state rows ${b.stateRows} " +
              s"commit ${b.stateCommitMs} ms durationMs " +
              b.durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }
                .mkString("{", ",", "}")))
            println(df.queryExecution.executedPlan.toString.take(12000))
            outDir.foreach(d => java.nio.file.Files.writeString(
              java.nio.file.Paths.get(d, s"$q.txt"),
              df.queryExecution.explainString(
                org.apache.spark.sql.execution.FormattedMode)): Unit)
        }
      }
    } finally spark.stop()
  }
}
