package graft

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

  test("stream_exec_dedup records one micro-batch with state rows") {
    val m = measured(SparkEntry.queries("stream_exec_dedup")(spark, sfDir).collect())
    val bs = m.batches.filter(_.query == "graft_exec_dedup")
    assert(bs.size == 1, m.batches)
    assert(bs.head.inputRows > 0 && bs.head.stateRows > 0, bs)
    assert(bs.head.durationMs.contains("triggerExecution"), bs)
    assert(m.jobs.nonEmpty, "the stream's jobs are recorded too")
  }
}
