package graft

import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildSide}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}

/** By-hand per-row audit (not part of the gate): runs named
  * `SparkEntry.queries` rows end to end, each from construction through a
  * `noop` write (the Bench.runOnce convention), and prints for each:
  *  - one summary line: wall time, jobs, stages, tasks, shuffle bytes,
  *    summed task time and spill — a 2 s row with 40 jobs is scheduling
  *    cost, a 2 s row with 3 jobs and 2 GB of shuffle is data-plane cost —
  *    then, from the plans of the row's finished queries, the range
  *    exchanges that ran and the side each broadcast join built, with
  *    its build keys (`builds [left(o_orderkey)]`);
  *  - one line per job (wall, tasks, task time, job tags, description);
  *    every job a row starts carries the row's name as a job tag;
  *  - one line per micro-batch (input rows, `durationMs`, state rows and
  *    commit time);
  *  - the executed physical plan of the row's last finished query (the
  *    `noop` write): the plan that ran, AQE's final plan included, as
  *    [[RowMetrics]] recorded it — the row is not planned a second time.
  *
  * Usage: `sbt "runMain graft.Audit <sfDir> <row> [<row>...]"`. An
  * untimed `tpch_q6` runs first; naming a row twice times a warm second
  * run. Cores come from `SPARK_GRAFT_CPUS` (default: the machine's).
  * With `SPARK_GRAFT_PLAN_OUT=<dir>`, that plan's full formatted explain
  * also goes to `<dir>/<row>.txt` — write before and after plans to two
  * directories. A state-width sweep passes
  * `-Dspark.graft.stream.statePartitions=N` to the forked JVM: Spark
  * copies `spark.*` system properties into every session's conf.
  */
object Audit extends AdaptiveSparkPlanHelper {
  /** `range exchanges <n> builds [<side>(<build keys>) …]` over `plans`,
    * query stages and subqueries included.
    */
  def shape(plans: Seq[SparkPlan]): String = {
    def name(b: BuildSide) = if (b == BuildLeft) "left" else "right"
    val ranges = plans.flatMap(collectWithSubqueries(_) {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    })
    val builds = plans.flatMap(collectWithSubqueries(_) {
      case j: BroadcastHashJoinExec =>
        val keys = if (j.buildSide == BuildLeft) j.leftKeys else j.rightKeys
        s"${name(j.buildSide)}(${keys.flatMap(_.references.map(_.name)).mkString(",")})"
      case j: BroadcastNestedLoopJoinExec => s"${name(j.buildSide)}()"
    })
    s"range exchanges ${ranges.size} builds ${builds.mkString("[", " ", "]")}"
  }

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
      RowMetrics.tagged(spark, q) {
        SparkEntry.queries(q)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
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
          case Right(wall) =>
            println(f"[audit] $q wall $wall%.3f s jobs ${m.jobs.size} " +
              s"stages ${m.total(_.stages)} tasks ${m.total(_.tasks)} " +
              s"shuffle read ${m.total(_.shuffleReadBytes)} B " +
              s"write ${m.total(_.shuffleWriteBytes)} B " +
              f"task ${m.total(_.runMs) / 1e3}%.1f s " +
              s"spill ${mb(m.total(_.memorySpillBytes))} memory " +
              s"${mb(m.total(_.diskSpillBytes))} disk " +
              shape(m.plans.map(_.executedPlan)))
            m.jobs.foreach(j => println(f"[audit]   job ${j.id}%4d " +
              f"wall ${j.wallMs}%6d ms tasks ${j.tasks}%4d task ${j.runMs}%6d ms " +
              j.tags.toSeq.sorted.mkString("[", ",", "] ") + j.description.take(90)))
            m.batches.foreach(b => println(s"[audit]   batch ${b.query}#${b.id} " +
              s"rows ${b.inputRows} state rows ${b.stateRows} " +
              s"commit ${b.stateCommitMs} ms durationMs " +
              b.durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }
                .mkString("{", ",", "}")))
            m.plans.lastOption.foreach { qe =>
              println(qe.executedPlan.toString.take(12000))
              outDir.foreach(d => java.nio.file.Files.writeString(
                java.nio.file.Paths.get(d, s"$q.txt"),
                qe.explainString(
                  org.apache.spark.sql.execution.FormattedMode)): Unit)
            }
        }
      }
    } finally spark.stop()
  }
}
