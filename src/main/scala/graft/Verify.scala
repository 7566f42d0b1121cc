package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names, for fast local
    // iteration on a few rows (the driver always runs the full map)
    val only: Set[String] =
      if (args.length > 2) args(2).split(",").toSet else Set.empty
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    // Process-private scratch root unless the caller pinned one: the
    // correctness gate must never read a build-once artifact written by a
    // concurrent or earlier process (the r13 lesson — Verify and a
    // timed-out Bench shared target/scratch). A fresh root forces every
    // fingerprinted layout to rebuild from the inputs of THIS run; the
    // root is purged on exit so gate runs leave nothing behind.
    val privateScratch = sys.env.get("SPARK_GRAFT_SCRATCH").isEmpty
    val scratchRoot =
      sys.env.getOrElse("SPARK_GRAFT_SCRATCH",
        s"target/scratch-verify-${ProcessHandle.current.pid}")
    val spark = context.SessionContext.local(cpus, cpus,
      "spark.graft.scratch" -> scratchRoot).spark
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try RowMetrics.tagged(spark, name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Caches.releaseAll(spark) // no cross-query storage leakage
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (privateScratch) Scratch.purge(scratchRoot)
  }
}
