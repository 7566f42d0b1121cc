package graft.tools

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Dev-only profile harness for optimization rounds: runs named
  * `SparkEntry.queries` rows end-to-end (t0 before construction, noop
  * sink — the Bench.runOnce convention) and prints, per row, the wall
  * time plus the scheduler-level shape the time is made of — jobs,
  * stages, tasks, shuffle bytes read/written, and cumulative task time.
  * A 2-second row with 40 jobs is a driver-orchestration floor; a
  * 2-second row with 3 jobs and 2 GB of shuffle is a data-plane cost —
  * the distinction that decides which guide section applies (§1 empirical
  * measurement; §2 shuffle shape). Not part of the driver contract.
  */
object RowProfile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RowProfile <sfDir> <row> [<row>...]")
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = graft.context.SessionContext.local(cpus, cpus).spark
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val shufR = new AtomicLong
    val shufW = new AtomicLong
    val taskMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          taskMs.addAndGet(m.executorRunTime)
          ()
        }
      }
    })
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    // warm-up: session init, codegen, parquet footers
    runOnce("tpch_q6")
    graft.Caches.releaseAll(spark)
    println(f"${"row"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stg"}%5s " +
      f"${"tasks"}%6s ${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"taskSec"}%8s")
    for (q <- args.drop(1)) {
      jobs.set(0); stages.set(0); tasks.set(0)
      shufR.set(0); shufW.set(0); taskMs.set(0)
      val sec =
        try runOnce(q)
        catch { case e: Throwable =>
          println(s"$q FAILED: ${e.getMessage}"); -1.0 }
      graft.Caches.releaseAll(spark)
      Thread.sleep(400) // listener-bus drain (private API; Bench precedent)
      println(f"$q%-28s $sec%7.3f ${jobs.get}%5d ${stages.get}%5d " +
        f"${tasks.get}%6d ${shufR.get / 1e6}%9.1f ${shufW.get / 1e6}%9.1f " +
        f"${taskMs.get / 1e3}%8.1f")
    }
    spark.stop()
  }
}
