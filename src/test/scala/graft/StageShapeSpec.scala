package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.FkJoinBuildSide

/** The two stage-shape rules [[graft.functions.GraftExtensions]] installs:
  * [[FkJoinBuildSide]] builds the small side of an inner join and streams
  * `lineitem`; [[graft.plans.OnePartitionSort]] sorts a small measured
  * result in the stage that reads it, with no range exchange. Plans are
  * read from what ran (AQE's final plan, recorded by [[RowMetrics]]).
  */
class StageShapeSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkTestSession._

  private val sf001 = "/root/testdata/sf0.01"

  /** A child session: its temp views do not clobber the shared session's. */
  private def child(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** Runs a built `df` through a noop write; its jobs and the plans that
    * ran (building a row also reads parquet footers, in jobs of its own).
    */
  private def ran(df: DataFrame): RowMetrics.Taken = {
    val m = RowMetrics.attach(df.sparkSession)
    try {
      m.take()
      df.write.format("noop").mode("overwrite").save()
      m.take()
    } finally m.close()
  }

  private def finalPlan(t: RowMetrics.Taken): SparkPlan = {
    val qe = t.plans.lastOption.getOrElse(fail("no plan recorded"))
    assert(qe.executedPlan.toString.contains("isFinalPlan=true"), qe.executedPlan)
    qe.executedPlan
  }

  /** Range exchanges in the plan that ran, as `graft.Audit` counts them. */
  private def ranges(p: SparkPlan): Int =
    "range exchanges (\\d+) ".r.findPrefixMatchOf(Audit.shape(Seq(p))).get.group(1).toInt

  /** The broadcast exchanges whose input scans `table`. */
  private def broadcastsOf(p: SparkPlan, table: String): Seq[BroadcastExchangeExec] =
    collectWithSubqueries(p) { case b: BroadcastExchangeExec => b }.filter { b =>
      collect(b) { case s: FileSourceScanExec => s }
        .exists(_.relation.location.rootPaths.exists(_.getName == s"$table.parquet"))
    }

  test("tpch_q1 runs in 2 jobs with no range exchange: final aggregate and sort share a stage") {
    val s = child()
    val t = ran(SparkEntry.queries("tpch_q1")(s, sfDir))
    assert(t.jobs.size <= 2, t.jobs)
    val p = finalPlan(t)
    assert(ranges(p) == 0, p)
  }

  test("a sort whose measured input is above the one-partition size keeps range partitioning") {
    def sorted(s: SparkSession) = s.range(0, 20000, 1, 4)
      .groupBy((col("id") % 5000).as("k")).count().orderBy(col("k").desc)
    val small = finalPlan(ran(sorted(spark)))
    assert(ranges(small) == 0, small)
    val s = child("spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b")
    val big = finalPlan(ran(sorted(s)))
    assert(ranges(big) == 1, big)
    val rows = sorted(s).collect().map(_.getLong(0)).toSeq
    assert(rows == (0L until 5000L).reverse)
  }

  for (q <- Seq("tpch_q3", "tpch_q5", "tpch_q10"))
    test(s"$q at sf0.01 streams lineitem: no broadcast exchange over its scan") {
      val s = child()
      val p = finalPlan(ran(SparkEntry.queries(q)(s, sf001)))
      assert(broadcastsOf(p, "lineitem").isEmpty, p)
      assert(broadcastsOf(p, "orders").nonEmpty, p)
    }

  private val q3Joins = """
    SELECT /*+ BROADCAST(lineitem) */ l_orderkey, o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'"""

  test("a user BROADCAST hint still wins over the estimate") {
    val s = child()
    Tables.registerTpch(s, sf001)
    val p = finalPlan(ran(s.sql(q3Joins)))
    assert(broadcastsOf(p, "lineitem").nonEmpty, p)
    val hinted = s.sql(q3Joins).queryExecution.optimizedPlan
      .collectFirst { case j: Join if j.hint.rightHint.nonEmpty => j }
    assert(hinted.exists(j => FkJoinBuildSide(j).isEmpty), hinted)
  }

  test("a left outer join is left to Spark; the same inner join is planned") {
    val s = child()
    Tables.registerTpch(s, sf001)
    def join(kind: String) = s.sql(s"""
      SELECT l_orderkey, o_orderdate
      FROM (SELECT * FROM customer JOIN orders ON c_custkey = o_custkey)
        $kind JOIN lineitem ON l_orderkey = o_orderkey""")
      .queryExecution.optimizedPlan.collectFirst { case j: Join => j }.get
    assert(FkJoinBuildSide(join("LEFT OUTER")).isEmpty)
    assert(FkJoinBuildSide(join("INNER")).nonEmpty)
  }
}
