package perfbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Caches, Scratch, SparkEntry, Tables}
import graft.context.SessionContext
import graft.operators.Tpch

/** The benchmark's JVM side. It drives the engine the way a library user
  * does: one `SessionContext.local`, tables registered through it, and per
  * query either `SessionContext.sql` + `collect` (TPC-H rows) or
  * `SparkEntry.queries(row)(spark, dir)` + `collect` (operator rows),
  * followed by `Caches.releaseAll` — the documented caller contract.
  *
  * Load is a closed loop with one client. Set-up is untimed and repeated
  * `SetupReps` times: each repetition stops the previous session, empties
  * the private `Scratch` root, starts a session, registers the tables and
  * runs one pass over the workload's rows (first-query work and the
  * `Scratch` layout builds). Then passes run back to back, each in a seeded
  * order, until `seconds` have elapsed and `minSamples` queries ran; the
  * pass in flight finishes.
  * With `--trace 1` every other pair of passes runs with a `SparkListener`, a
  * `StreamingQueryListener` and a `QueryExecutionListener` attached, so the
  * traced and untraced passes give the tracing overhead.
  *
  * Only raw observations leave this process (`result.json`): spans around
  * each public call, per-job listener records and per-batch stream
  * progress. `run.py` turns them into metrics. The first timed pass's
  * results are written as parquet for the DuckDB oracle; every later pass
  * is compared with it by an order-free digest.
  *
  * Usage: Harness <dataDir> <outDir> <rows,...> <seed> <seconds> <trace>
  *   <cores> <minSamples>
  */
object Harness {

  val SetupReps = 3

  final case class Span(row: String, pass: Int, traced: Boolean,
                        t0Ms: Long, t1Ms: Long, buildS: Double,
                        collectS: Double, releaseS: Double, nRows: Int,
                        digest: String, error: String)

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, rowsArg, seedArg, secondsArg, traceArg,
      coresArg, minSamplesArg) = args
    val rows = rowsArg.split(",").toSeq
    val (seed, seconds, trace, cores, minSamples) =
      (seedArg.toLong, secondsArg.toDouble, traceArg == "1", coresArg.toInt,
        minSamplesArg.toInt)
    Files.createDirectories(Paths.get(outDir))
    val sqlRows = rows.filter(Tpch.sql.contains)
    val scratchRoot = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "")

    def runRow(ctx: SessionContext, row: String, pass: Int, traced: Boolean,
               keep: Option[scala.collection.mutable.Map[String, DataFrame]])
        : Span = {
      val spark = ctx.spark
      val sc = spark.sparkContext
      val tag = s"pb-$pass-$row"
      sc.addJobTag(tag)
      val t0Ms = System.currentTimeMillis
      val t0 = System.nanoTime
      var (tb, tc, nRows, digest, err) = (t0, t0, 0, "", "")
      try {
        val df =
          if (Tpch.sql.contains(row)) ctx.sql(Tpch.sql(row))
          else SparkEntry.queries(row)(spark, dataDir)
        tb = System.nanoTime
        val out = ctx.collect(df)
        tc = System.nanoTime
        nRows = out.length
        digest = Harness.digest(out)
        keep.foreach(_(row) = spark.createDataFrame(
          java.util.Arrays.asList(out: _*), df.schema))
      } catch {
        case e: Throwable =>
          tc = System.nanoTime
          if (tb == t0) tb = tc
          err = s"${e.getClass.getSimpleName}: ${e.getMessage}"
            .linesIterator.take(3).mkString(" | ")
      } finally sc.removeJobTag(tag)
      val t1Ms = System.currentTimeMillis
      val tr = System.nanoTime
      Caches.releaseAll(spark)
      val te = System.nanoTime
      Span(row, pass, traced, t0Ms, t1Ms, (tb - t0) / 1e9, (tc - tb) / 1e9,
        (te - tr) / 1e9, nRows, digest, err)
    }

    def order(pass: Int): Seq[String] =
      new Random(seed * 7919L + pass).shuffle(rows)

    // set-up, repeated: the median repetition is the reported setup_s
    val setups = (1 to SetupReps).map { i =>
      if (i > 1) SparkSession.active.stop()
      if (scratchRoot.nonEmpty) Scratch.purge(scratchRoot)
      val t0 = System.nanoTime
      val ctx = SessionContext.local(cores = cores, shufflePartitions = cores)
      val t1 = System.nanoTime
      if (sqlRows.nonEmpty) Tables.tpch.foreach(n =>
        ctx.registerTable(n, Tables.load(ctx.spark, dataDir, n)))
      val t2 = System.nanoTime
      order(-i).foreach(r => runRow(ctx, r, -i, traced = false, None))
      val t3 = System.nanoTime
      (ctx, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }
    val ctx = setups.last._1
    val spark = ctx.spark
    val sc = spark.sparkContext
    val scratchBytes = dirBytes(scratchRoot)

    // The timed window: whole passes until `seconds` have passed and at
    // least minSamples queries ran (see metrics.tail for the percentile
    // this puts the tail at). With tracing, passes run
    // untraced, traced, traced, untraced, ... (ABBA, so warm-up drift
    // cancels out of the overhead ratio) and at least four run; listeners
    // are attached only for the traced passes and the bus is drained
    // before they are detached.
    val listeners = if (trace) Some(new Listeners) else None
    var attached = false
    def attach(on: Boolean): Unit = listeners.foreach { l =>
      if (on && !attached) {
        sc.addSparkListener(l.jobs)
        spark.streams.addListener(l.streams)
        spark.listenerManager.register(l.plans)
      } else if (!on && attached) {
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(l.jobs)
        spark.streams.removeListener(l.streams)
        spark.listenerManager.unregister(l.plans)
      }
      attached = on
    }
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    val kept = scala.collection.mutable.Map.empty[String, DataFrame]
    val start = System.nanoTime
    var pass = 0
    while (pass == 0 || (System.nanoTime - start) / 1e9 < seconds ||
           spans.size < minSamples || (trace && pass < 4)) {
      pass += 1
      val traced = trace && pass % 4 >= 2
      attach(traced)
      val keep = if (pass == 1) Some(kept) else None
      order(pass).foreach(r => spans += runRow(ctx, r, pass, traced, keep))
    }
    attach(false)

    // oracle inputs: the first timed pass's results, written untimed
    for ((row, df) <- kept)
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/oracle_out/$row")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      rows.flatMap(r => SparkEntry.oracleSql.get(r).map(sql => s"${q(r)}: ${q(sql)}"))
        .mkString("{", ",\n", "}"))
    val hwmKb = vmHwmKb()
    spark.stop()

    val j = new StringBuilder
    j ++= "{"
    j ++= s""""setup": [${setups.map { case (_, s, r, p) =>
      s"""{"session_s": $s, "register_s": $r, "pass_s": $p}"""
    }.mkString(", ")}],"""
    j ++= s""""scratch_bytes": $scratchBytes, """
    j ++= s""""vm_hwm_kb": $hwmKb, "cores": $cores,"""
    j ++= s""""spans": [${spans.map(spanJson).mkString(",\n")}]"""
    listeners.foreach(l => j ++= ",\n" + l.json)
    j ++= "}"
    Files.writeString(Paths.get(s"$outDir/result.json"), j.toString)
  }

  /** Order-free digest of a collected result: a sum and an xor of the
    * per-row hashes, so two passes that return the same multiset of rows in
    * any order agree.
    */
  def digest(rows: Array[Row]): String = {
    var (sum, xor) = (0L, 0L)
    rows.foreach { r =>
      val h = scala.util.hashing.MurmurHash3.stringHash(r.toString)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(r.toString, 0x5bd1e995)
      val v = (h.toLong << 32) ^ (h2 & 0xffffffffL)
      sum += v; xor ^= v
    }
    f"${rows.length}%d-$sum%016x-$xor%016x"
  }

  private def dirBytes(p: String): Long =
    if (p.isEmpty || !Files.exists(Paths.get(p))) 0L
    else {
      val s = Files.walk(Paths.get(p))
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong }.getOrElse(0L)

  private def q(s: String): String = graft.Json.quote(s)

  private def spanJson(s: Span): String =
    s"""{"row": ${q(s.row)}, "pass": ${s.pass}, "traced": ${s.traced}, """ +
      s""""t0_ms": ${s.t0Ms}, "t1_ms": ${s.t1Ms}, "build_s": ${s.buildS}, """ +
      s""""collect_s": ${s.collectS}, "release_s": ${s.releaseS}, """ +
      s""""n_rows": ${s.nRows}, "digest": ${q(s.digest)}, "error": ${q(s.error)}}"""
}

/** Outside-in listeners for the traced passes. Task metrics are keyed per
  * job through the stage → job map taken from each job's start event, so
  * overlapping jobs never share one accumulator; planning phases come from
  * each finished query's `QueryPlanningTracker`; stream progress is kept
  * per micro-batch.
  */
final class Listeners {
  final class Job(val id: Int, val tags: String, val startMs: Long) {
    @volatile var endMs = 0L
    var stages, tasks, failedTasks = 0
    var runMs, cpuNs, gcMs, shufWrite, shufRead, fetchWaitMs = 0L
    var inBytes, inRecords, spillDisk = 0L
  }
  private val jobsById = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val planRecs = new ConcurrentLinkedQueue[String]()
  private val batches = new ConcurrentLinkedQueue[String]()

  val jobs: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tags = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
      val j = new Job(e.jobId, tags, e.time)
      jobsById.put(e.jobId, j)
      e.stageIds.foreach(s => stageToJob.putIfAbsent(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobsById.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageToJob.get(e.stageInfo.stageId)).foreach(j =>
        j.synchronized { j.stages += 1 })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageToJob.get(e.stageId)).foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (!e.taskInfo.successful) j.failedTasks += 1
          Option(e.taskMetrics).foreach { m =>
            j.runMs += m.executorRunTime
            j.cpuNs += m.executorCpuTime
            j.gcMs += m.jvmGCTime
            j.shufWrite += m.shuffleWriteMetrics.bytesWritten
            j.shufRead += m.shuffleReadMetrics.totalBytesRead
            j.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
            j.inBytes += m.inputMetrics.bytesRead
            j.inRecords += m.inputMetrics.recordsRead
            j.spillDisk += m.diskBytesSpilled
          }
        }
      }
  }

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val ops = p.stateOperators
      batches.add(
        s"""{"run": "${p.runId}", "ts_ms": ${java.time.Instant.parse(p.timestamp).toEpochMilli}, """ +
          s""""trigger_ms": ${d("triggerExecution")}, "add_batch_ms": ${d("addBatch")}, """ +
          s""""wal_commit_ms": ${d("walCommit")}, "query_planning_ms": ${d("queryPlanning")}, """ +
          s""""state_rows": ${ops.map(_.numRowsTotal).sum}, """ +
          s""""state_commit_ms": ${ops.map(_.commitTimeMs).sum}, "rows": ${p.numInputRows}}""")
    }
  }

  val plans: QueryExecutionListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      def span(k: String): String = ph.get(k)
        .map(s => s"[${s.startTimeMs}, ${s.endTimeMs}]").getOrElse("null")
      planRecs.add(s"""{"analysis": ${span("analysis")}, """ +
        s""""optimization": ${span("optimization")}, "planning": ${span("planning")}}""")
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  def json: String = {
    val js = jobsById.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"id": ${j.id}, "tags": ${graft.Json.quote(j.tags)}, """ +
        s""""start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "stages": ${j.stages}, """ +
        s""""tasks": ${j.tasks}, "failed_tasks": ${j.failedTasks}, "run_ms": ${j.runMs}, """ +
        s""""cpu_ns": ${j.cpuNs}, "gc_ms": ${j.gcMs}, "shuffle_write": ${j.shufWrite}, """ +
        s""""shuffle_read": ${j.shufRead}, "fetch_wait_ms": ${j.fetchWaitMs}, """ +
        s""""input_bytes": ${j.inBytes}, "input_records": ${j.inRecords}, """ +
        s""""spill_disk": ${j.spillDisk}}"""
    }
    s""""jobs": [${js.mkString(",\n")}],
       |"batches": [${batches.asScala.mkString(",\n")}],
       |"plans": [${planRecs.asScala.mkString(",\n")}]""".stripMargin
  }
}
