package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** [[RowMetrics]] is exact without waiting: `take()` drains the listener
  * bus, so a count read right after an action returns holds every event
  * of that action. None of these cases sleeps or polls.
  */
class RowMetricsSpec extends AnyFunSuite {
  import SparkTestSession._

  private def measured[A](body: => A): RowMetrics.Taken = {
    val metrics = RowMetrics.attach(spark)
    try { metrics.take(); body; metrics.take() } finally metrics.close()
  }

  private def described[A](desc: String)(body: => A): A = {
    spark.sparkContext.setJobDescription(desc)
    try body finally spark.sparkContext.setJobDescription(null)
  }

  test("an 8-partition range reports exactly its 8 scan tasks") {
    val scan = measured(described("rm-scan") {
      spark.range(0, 100000, 1, 8).write.format("noop").mode("overwrite").save()
    })
    assert(scan.jobs.map(j => (j.description, j.stages, j.tasks)) ==
      Seq(("rm-scan", 1, 8)), scan.jobs)
    assert(scan.jobs.forall(j => j.wallMs >= 0 && j.runMs >= 0), scan.jobs)
    // count adds one final-aggregate task behind a shuffle
    val count = measured(described("rm-count")(spark.range(0, 100000, 1, 8).count()))
    assert(count.jobs.nonEmpty && count.jobs.forall(_.description == "rm-count"), count.jobs)
    assert(count.total(_.tasks) == 9 && count.total(_.shuffleWriteBytes) > 0, count.jobs)
  }

  test("two differently described jobs stay separate") {
    val m = measured {
      described("rm-a")(spark.sparkContext.parallelize(1 to 100, 3).count())
      described("rm-b")(spark.sparkContext.parallelize(1 to 100, 5).count())
    }
    assert(m.jobs.map(j => j.description -> j.tasks) ==
      Seq("rm-a" -> 3, "rm-b" -> 5), m.jobs)
    assert(m.jobs.forall(_.stages == 1), m.jobs)
  }

  test("a row's jobs carry exactly its tag; a job after the finally carries none") {
    val metrics = RowMetrics.attach(spark)
    try {
      metrics.take()
      def row(q: String) = {
        RowMetrics.tagged(spark, s"rm-$q") {
          SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        metrics.take().jobs
      }
      val (q3, q6) = (row("tpch_q3"), row("tpch_q6"))
      spark.range(0, 1000, 1, 2).write.format("noop").mode("overwrite").save()
      val after = metrics.take().jobs
      // Spark adds its own tags (a broadcast's "broadcast exchange (runId
      // …)"); of the row tags, each job carries exactly one
      def rowTags(j: RowMetrics.Job) = j.tags.filter(_.startsWith("rm-"))
      assert(q3.size > 1 && q3.forall(rowTags(_) == Set("rm-tpch_q3")), q3)
      assert(q6.nonEmpty && q6.forall(rowTags(_) == Set("rm-tpch_q6")), q6)
      assert(after.nonEmpty && after.forall(_.tags.isEmpty), after)
    } finally metrics.close()
  }

  test("a noop write of a shuffle aggregate records AQE's final plan") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    val m = measured {
      spark.range(0, 10000, 1, 4).groupBy((col("id") % 7).as("k")).count()
        .write.format("noop").mode("overwrite").save()
    }
    val plan = m.plans.lastOption.map(_.executedPlan.toString)
    assert(plan.exists(_.contains("isFinalPlan=true")), plan)
  }

  test("stream_exec_dedup records one micro-batch with state rows") {
    val m = measured(SparkEntry.queries("stream_exec_dedup")(spark, sfDir).collect())
    val bs = m.batches.filter(_.query == "graft_exec_dedup")
    assert(bs.size == 1, m.batches)
    assert(bs.head.inputRows > 0 && bs.head.stateRows > 0, bs)
    assert(bs.head.durationMs.contains("triggerExecution"), bs)
    assert(m.jobs.nonEmpty, "the stream's jobs are recorded too")
  }
}
