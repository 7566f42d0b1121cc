package graft

/** By-hand plan audit harness (the batch sibling of [[StreamAudit]], not
  * part of the gate): prints the executed physical plan of named
  * `SparkEntry.queries` rows so shuffle counts, join strategies, and
  * codegen spans can be eyeballed after every operator change, plus each
  * row's wall time from construction through a `noop` write (the
  * Bench.runOnce convention).
  *
  * Usage: `sbt "runMain graft.PlanAudit <sfDir> <row> [<row>...]"`.
  *
  * With `SPARK_GRAFT_PLAN_OUT=<dir>` set, additionally writes each row's
  * FULL `explain("formatted")` output to `<dir>/<row>_<suffix>.txt`
  * (suffix from `SPARK_GRAFT_PLAN_SUFFIX`, default `plan`) — the
  * committed before/after evidence format for optimization rounds.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: PlanAudit <sfDir> <row> [<row>...]")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = context.SessionContext.local(cpus, cpus).spark
    val outDir = sys.env.get("SPARK_GRAFT_PLAN_OUT")
    val suffix = sys.env.getOrElse("SPARK_GRAFT_PLAN_SUFFIX", "plan")
    outDir.foreach(d => new java.io.File(d).mkdirs(): Unit)
    try for (q <- args.drop(1)) {
      println(s"===== $q =====")
      val t0 = System.nanoTime()
      val df = SparkEntry.queries(q)(spark, args(0))
      df.write.format("noop").mode("overwrite").save()
      println(f"[plan-audit] $q wall ${(System.nanoTime() - t0) / 1e9}%.3f s")
      println(df.queryExecution.executedPlan.toString.take(12000))
      outDir.foreach { d =>
        // ADVICE r18: two-arg Paths.get so a suffix with a path
        // separator cannot escape the output directory
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(d, s"${q}_$suffix.txt"),
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)): Unit
      }
      Caches.releaseAll(spark)
    } finally spark.stop()
  }
}
