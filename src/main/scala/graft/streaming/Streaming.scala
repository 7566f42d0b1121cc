package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Streaming-shaped operators over the `events` table — beyond the
  * reference surface (it has no streaming at all, SURVEY.md §2.6); built on
  * the Structured Streaming model where the *same* windowed-aggregation
  * plan runs in batch and in streaming mode.
  *
  * The driver-checked queries below run the batch form (DuckDB-oracle-able);
  * [[readEventStream]] + the specs run the identical transforms through
  * `readStream` with watermarks/memory-sink to prove streaming execution.
  */
object Streaming {

  /** The events parquet carries TIMESTAMP(NANOS), which Spark 4 rejects by
    * default; read nanos as long and truncate to Spark's native µs
    * precision (same truncation DuckDB applies casting ns→µs). The conf
    * `spark.sql.legacy.parquet.nanosAsLong` comes with every
    * `SessionContext.local` session, and `SparkEntry.queries` sets it on
    * any other session before a row builds. [[Tables.load]] normalizes
    * ts (ns-long / NTZ / µs) to session TIMESTAMP.
    */
  def events(s: SparkSession, d: String): DataFrame = Tables.load(s, d, "events")

  private def dsum(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    sum(c.cast(DecimalType(18, 2))).cast(DoubleType)

  /** Tumbling 1-hour window aggregation (event-time). */
  def windowAgg(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("event_type"),
              col("n"), col("sum_value"))

  private def streamWindowAgg(s: SparkSession, d: String): DataFrame =
    windowAgg(events(s, d)).orderBy(col("window_start"), col("event_type"))

  /** Session windows (30-minute gap) per user — Spark's session_window;
    * the oracle reproduces it with gaps-and-islands SQL.
    */
  private def streamSessionAgg(s: SparkSession, d: String): DataFrame =
    events(s, d).filter(col("user_id") < 20)
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
              col("n"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  /** Sliding windows (1 hour, sliding 30 min). */
  private def streamSlidingAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("w.start").as("window_start"), col("n"), col("sum_value"))
      .orderBy(col("window_start"))

  /** JSON property extraction from the event payload. */
  private def streamJsonProps(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast(LongType).as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy(col("event_type"))

  /** The streaming source form of the events table (same schema), for
    * running the transforms above under `readStream` — used by the specs.
    */
  def readEventStream(s: SparkSession, d: String): DataFrame = {
    // declare the stream with the RAW file schema (ns-long / NTZ / µs —
    // whatever this round's fixtures carry), then apply the same ts
    // normalization the batch loader does. Memoized footer schema: every
    // streaming row build paid ~50 ms re-inferring the same fixture's
    // schema (r19, guide §6)
    val rawSchema = Tables.parquetSchema(s, Tables.path(d, "events"))
    Tables.normalizeTs(
      s.readStream.schema(rawSchema)
        .option("pathGlobFilter", "events.parquet").parquet(d))
  }

  /** State-store width for every stateful exec row:
    * `min(8, max(1, defaultParallelism / 2))` — 4 cores → 2, 8 → 4,
    * ≥16 → 8 — overridable per session with
    * `spark.graft.stream.statePartitions`.
    *
    * The store count is bound to `spark.sql.shuffle.partitions` at query
    * start, and EVERY store commits per micro-batch whether or not it
    * holds state. A commit is fixed checkpoint I/O: the state delta and
    * its checksum file (Spark's checkpoint checksums stay on), each
    * written on its own pool thread and awaited, plus a per-store
    * maintenance thread and directory creation. For these small-state
    * rows (every one holds <10 MB) the width moves wall time little. On
    * 4 cores at sf0.01 (`graft.Audit`, warm second run, widths
    * 8/4/2/1) the inner interval join reads 1.62/1.62/1.46/1.56 s, its
    * cumulative state commit 314 ms at 8 stores and 24 ms at 1;
    * window_agg 1.13/1.17/0.94/0.94 s;
    * dedup 0.58/0.56/0.52/0.51 s. Half the cores keeps the stateful
    * stage parallel and sits at the low end of that sweep. At
    * scale the override is RAISED for state CAPACITY: target
    * ~100-500 MB of state per store, e.g. 1 TB of join/session state
    * wants ~2-10k partitions. Results are partitioning-independent
    * (StreamingSpec runs the stateful rows at widths 1 and 8 and
    * requires identical rows).
    */
  private[graft] def stateParts(s: SparkSession): Int =
    s.conf.getOption("spark.graft.stream.statePartitions").map(_.toInt)
      .getOrElse(math.min(8, math.max(1, s.sparkContext.defaultParallelism / 2)))

  /** Where [[streamExecCheckpointRestart]]'s source, checkpoint and sink
    * for dataset `d` live ([[graft.Scratch.pidDir]]: private to this
    * process) — exposed so the spec can count the checkpoint's commits.
    */
  private[graft] def ckptRoot(s: SparkSession, d: String): String =
    graft.Scratch.pidDir(s, ckptName(d))
  private def ckptName(d: String) = s"ckpt_restart_${graft.Scratch.sanitize(d)}"

  /** Runs `body` with `kv` set on `s`, then restores each key's previous
    * value (or unsets it). On the CALLER's session, not a newSession()
    * child: StreamingQueryListener and QueryExecutionListener buses are
    * per session, so a query started in a child is invisible to listeners
    * the caller attached (RowMetrics and perfbench --trace read them).
    */
  private def withConfs[A](s: SparkSession, kv: (String, String)*)(body: => A): A = {
    val saved = kv.map { case (k, _) => k -> s.conf.getOption(k) }
    kv.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Runs a streaming DataFrame to completion under Trigger.AvailableNow
    * into a memory sink and returns the sink table. AvailableNow is the
    * operational backfill contract — bounded micro-batches over everything
    * currently in the source, then self-termination, no external stop
    * signal — so a driver row can gate the REAL streaming execution path
    * (streaming source → watermark → state store → sink) against a batch
    * DuckDB oracle, not just the batch twin of the same plan. State width
    * is [[stateParts]].
    *
    * `trailingBatch = false` skips the watermark-only micro-batch that
    * AvailableNow runs after the data drains
    * (`spark.sql.streaming.noDataMicroBatches.enabled`, scoped to this
    * query). That batch only advances the watermark to evict state; it is
    * SAFE TO SKIP ONLY WHERE NO OUTPUT ROW WAITS ON EVICTION — rows that
    * emit at first sight or at match time. Rows that emit on eviction
    * (outer joins, timeouts, append-mode windows) lose output without it,
    * so the default keeps it and a caller that forgets is only slower.
    * `confs` joins the same query-scoped set.
    */
  private def runToMemory(s: SparkSession, name: String, df: DataFrame,
                          mode: String, trailingBatch: Boolean = true,
                          confs: Seq[(String, String)] = Nil): DataFrame = {
    s.catalog.dropTempView(name) // re-runs in one session replace the sink
    withConfs(s, Seq(
      "spark.sql.shuffle.partitions" -> stateParts(s).toString,
      "spark.sql.streaming.noDataMicroBatches.enabled" -> trailingBatch.toString)
      ++ confs: _*) {
      val q = df.writeStream.format("memory").queryName(name).outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      require(q.awaitTermination(300000), s"$name did not self-terminate")
    }
    s.table(name)
  }

  /** Checkpointed KILL-AND-RESTART recovery, executed for real — the
    * operational claim every production stream rests on and no
    * single-run row can gate: the SAME watermarked windowed aggregate
    * (append mode) is run TWICE against a growing file source under one
    * `checkpointLocation`. Run 1 drains the first half of the timeline
    * and terminates (a planned shutdown); more files then land; run 2
    * starts fresh from the checkpoint. Recovery is exactly-once by
    * construction iff (a) run 2 resumes from committed OFFSETS (replaying
    * run 1's files would double-emit and break the hash gate), (b) run
    * 1's in-flight WINDOW STATE and WATERMARK survive (the windows
    * straddling the split hold run-1 events that only emit correctly in
    * run 2 if the recovered state merges them), and (c) append-mode
    * finalization emits each window exactly once ACROSS runs.
    * The sink is the fault-tolerant FILE sink (the memory sink refuses
    * checkpoint recovery outright — Spark enforces that recovery needs a
    * durable sink): each run appends parquet files recorded in the
    * sink's `_spark_metadata` commit log, and the final read-back goes
    * through that log, so a half-written or replayed batch can never
    * leak into the result — sink-side exactly-once, exercised across a
    * real restart. The row returns the committed output restricted to
    * the provably-finalized
    * region (window_end ≤ max ts − watermark − 61 s safety margin, the
    * same eviction-contract pattern as the outer interval join and
    * custom-state rows); the oracle is the batch aggregate under the
    * same cutoff. Source/checkpoint live under [[ckptRoot]], wiped at row
    * start, so re-runs are deterministic. At 100 TB this IS
    * the upgrade/failure drill: bounded state (watermark), resumable
    * offsets, idempotent sink.
    */
  private[graft] def streamExecCheckpointRestart(s: SparkSession, d: String)
      : DataFrame = {
    val ev = events(s, d)
    val Array(minUs, maxUs) = ev
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head.toSeq.map(_.asInstanceOf[Long]).toArray
    val splitUs = minUs + (maxUs - minUs) / 2
    // the row can't self-clean at the end (the returned frame lazily
    // reads the sink), so its tree is wiped at row start instead
    val root = graft.Scratch.freshPidDir(s, ckptName(d))
    val src = s"$root/src"
    val ckpt = s"$root/ckpt"
    val out = s"$root/out"
    // Cost audit (sf0.1, 32 cores, r9): each run executes TWO
    // micro-batches — the data batch (~50k rows, addBatch ≈ 1.4 s) and a
    // 0-ROW batch that exists to advance the watermark and finalize
    // windows, which still cost addBatch ≈ 0.85 s at 32 shuffle
    // partitions: pure state-store machinery (32 stores × snapshot +
    // commit) over only ~1,800 state rows. Same finding as the r7
    // interval-join audit — store count per state volume is the knob —
    // so the run uses the stateParts width (consistent across BOTH runs:
    // the count is baked into the checkpoint at batch 0 and recovery
    // must match — stable here because the conf is read per run under
    // one session and the checkpoint dir is wiped at row start). Took
    // the row 4.8 s → ~3.4 s; the remaining cost is two query startups
    // + two source appends + the commit-log read, i.e. the restart
    // drill itself, not a plan defect.
    def runOnce(): Unit =
      withConfs(s, "spark.sql.shuffle.partitions" -> stateParts(s).toString) {
        val agged = windowAgg(s.readStream
          .schema(s.read.parquet(src).schema).parquet(src)
          .withWatermark("ts", "10 minutes"))
        val q = agged.writeStream.format("parquet")
          .option("path", out).option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        require(q.awaitTermination(300000),
          "ckpt_restart run did not self-terminate")
      }
    // DEAD END (r19, do not retry): coalescing each half to the state
    // width (8 files instead of 32) to save file-commit/listing overhead
    // measured WORSE — a control-gated BENCH_ONLY run read 4.57 s vs the
    // 3.08 s committed floor (sf1_q1 control 1.08× floor, so not window
    // noise): the data micro-batch SCANS the source at file granularity,
    // and 8 files serialize the 50k-row scan+watermark pass onto 8 tasks
    // while the session has 32 cores. Source stays session-width.
    ev.filter(unix_micros(col("ts")) < splitUs)
      .write.mode("append").parquet(src)
    runOnce() // run 1: first half of the timeline, then planned shutdown
    ev.filter(unix_micros(col("ts")) >= splitUs)
      .write.mode("append").parquet(src)
    runOnce() // run 2: recovery — offsets, window state, watermark
    val cutoffUs = maxUs - (10 * 60 + 61) * 1000000L
    s.read.parquet(out) // reads via the sink's _spark_metadata commit log
      .filter(unix_micros(col("window_start")) + 3600L * 1000000L
        <= cutoffUs)
      .orderBy(col("window_start"), col("event_type"))
  }

  /** [[windowAgg]] executed BY the streaming engine (complete mode,
    * 1-minute watermark) — same oracle as the batch twin.
    *
    * Every stateful exec row sizes its state-store count with
    * [[stateParts]] (derived from the cores, not the session's shuffle
    * width): per-micro-batch wall time is store commits ×
    * partitions, not data volume — each commit is a state delta plus its
    * checksum file — and every one of these rows holds well under 10 MB
    * of state. Results are partitioning-independent (each row is
    * oracle-gated); at 100 TB the same knob is RAISED for state
    * capacity. Measured on the defaulted rows at 32 stores (sf0.1):
    * 99–134 tasks / 18–58 task-seconds per row — commit machinery, not
    * computation.
    */
  private def streamExecWindowAgg(s: SparkSession, d: String): DataFrame =
    runToMemory(s, "graft_exec_win",
      windowAgg(readEventStream(s, d).withWatermark("ts", "1 minute")),
      "complete")
      .orderBy(col("window_start"), col("event_type"))

  /** The sliding-window aggregate executed BY the streaming engine
    * (complete mode, 1-minute watermark): each event lands in 2
    * overlapping 1-hour/30-minute windows, so this exec row gates the
    * engine's window-EXPANSION path (one state row per open window
    * instance), which the tumbling exec row never touches. Same oracle
    * as the batch twin.
    */
  private def streamExecSlidingAgg(s: SparkSession, d: String): DataFrame =
    runToMemory(s, "graft_exec_slide",
      readEventStream(s, d).withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("w.start").as("window_start"), col("n"),
          col("sum_value")),
      "complete")
      .orderBy(col("window_start"))

  /** Watermarked stream-stream interval join (the streaming form of
    * `join_range`), executed end-to-end: state on both sides is bounded by
    * the 1-hour watermarks + the 30-minute join interval, and inner-join
    * matches emit as they form (append mode).
    *
    * Cost audit (sf0.1, 32 cores — the suite's slowest row, r6 VERDICT
    * task 6): AvailableNow runs exactly TWO micro-batches — batch 0
    * ingests all 200k events and writes 39,947 state rows (addBatch
    * ≈ 5.8 s of the ≈ 7.1 s trigger), batch 1 ingests 0 rows and exists
    * to advance the watermark: it rewrites the 32-partition × 4 store
    * set and EVICTS state down to 71 rows (addBatch ≈ 4 s). So the row's
    * wall time is micro-batch + state-store-commit machinery (128 store
    * commits per batch), not data volume — and the 39,947 → 71 eviction
    * is the direct evidence the watermark bounds state, which is the
    * 100 TB survival property. A RocksDB state-store variant was
    * measured and NOT kept: warm-for-warm it ties the HDFS-backed store
    * (8.11 s vs 8.13 s total) because ~9 MB of state never stresses
    * either backend; RocksDB pays off when per-partition state outgrows
    * executor heap, which this fixture cannot reach. Acting on that
    * audit (r7): state-store count sized to the ~9 MB of actual state
    * (8 stores, today [[stateParts]]) took the row 8.25 s → 3.5 s at 32
    * cpus — the commit machinery was indeed the cost, and store count
    * per state volume is the knob (raised for capacity at 100 TB,
    * lowered here). Inner matches emit at match time, so no output row
    * waits on the watermark-only batch 1: the row skips it
    * (`trailingBatch = false`) and runs one micro-batch. The eviction
    * itself is still executed and spec-gated on the LEFT OUTER twin
    * below, whose null-padded rows are produced by it.
    */
  private def streamExecIntervalJoin(s: SparkSession, d: String): DataFrame = {
    val ev = readEventStream(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_event"))
      .withWatermark("c_ts", "1 hour")
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_event"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purch,
        col("c_user") === col("p_user") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("click_event"), col("purchase_event"),
        col("c_user").as("user_id"))
    runToMemory(s, "graft_exec_ssj", joined, "append", trailingBatch = false)
      .orderBy(col("click_event"), col("purchase_event"))
  }

  /** LEFT OUTER stream-stream interval join executed end-to-end — the
    * semantically hardest join mode the streaming engine offers: an
    * unmatched left row can only be emitted (null-padded) when the
    * WATERMARK proves no future right row can ever match it, i.e. outer
    * results are produced by STATE EVICTION, not by the join probe. A
    * bounded AvailableNow run advances the final GLOBAL watermark to
    * min(max click ts, max purchase ts) − 1 h (the multi-watermark
    * policy takes the min over inputs), which evicts-and-emits every
    * unmatched click older than that minus the 30-minute join interval;
    * clicks younger than that horizon are still legitimately parked in
    * state when the source drains, so the row (and its oracle)
    * restricts to clicks ≤ that horizon minus a 1-minute safety margin
    * — the provably-evicted region. The cutoff is a 1-row driver bound
    * fetch inlined as a literal, the same pattern as the recursive-CTE
    * bounds. At 100 TB nothing changes: state stays watermark-bounded
    * on both sides and the emission contract is the same eviction rule.
    *
    * Cost audit (sf0.1, 32 cores, r9 — already on 8 state partitions):
    * warm total ≈ 3.5 s = trigger 2.6 s (data batch 1.8 s of which
    * queryPlanning 0.4-0.7 s — the outer-join plan is the most
    * expensive the streaming planner builds per batch — + the 0-row
    * watermark/eviction batch 0.8 s) + the 1-row cutoff pre-query and
    * memory-sink read-back ≈ 0.9 s. State commits ≈ 1.9 s CUMULATIVE
    * across the interval join's 4-stores-per-partition layout over
    * 39,908 rows → 48 after eviction; store count is already sized to
    * the state (the r7 knob), so the remaining cost is the two
    * micro-batch lifecycles themselves — the price of executing the
    * eviction contract for real, not a plan defect.
    */
  private def streamExecIntervalJoinOuter(s: SparkSession, d: String): DataFrame = {
    val minMax = events(s, d)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type")).agg(max(col("ts")).as("m"))
      .agg(min(col("m"))).head.getTimestamp(0)
    val cutoff = new java.sql.Timestamp(
      minMax.getTime - (60 + 30 + 1) * 60L * 1000)
    val ev = readEventStream(s, d)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_event"))
      .withWatermark("c_ts", "1 hour")
    val purch = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_event"))
      .withWatermark("p_ts", "1 hour")
    val joined = clicks.join(purch,
        col("c_user") === col("p_user") &&
        col("c_ts") >= col("p_ts") &&
        col("c_ts") <= col("p_ts") + expr("INTERVAL 30 MINUTES"),
        "leftOuter")
      .filter(col("c_ts") <= lit(cutoff))
      .select(col("click_event"), col("purchase_event"),
        col("c_user").as("user_id"))
    runToMemory(s, "graft_exec_ssj_outer", joined, "append")
      .orderBy(col("click_event"), col("purchase_event"))
  }

  /** The windowed aggregate executed across MULTIPLE rate-limited
    * micro-batches in ONE run — the incremental-ingestion path neither
    * the single-batch exec rows (AvailableNow drains the one-file source
    * in one batch) nor the restart row (two runs, two batches each)
    * gate: a 4-file copy of the events table is consumed under
    * `maxFilesPerTrigger = 1`, so the SAME windowed state accumulates
    * across ≥4 incremental batches — partial windows carried in the
    * state store between batches, merged as later files land — and the
    * complete-mode drain must equal the batch answer exactly (same
    * oracle as the batch twin). This is steady-state production
    * ingestion in miniature: bounded per-batch work, state as the
    * carrier of incremental correctness. The spec attaches a listener
    * and asserts ≥4 batches actually executed with rows in more than
    * one — a source that coalesced to one batch would pass the hash gate
    * while gating nothing.
    *
    * The 4-way time-quartile split is built once under a fingerprinted
    * scratch key (4 sequential appends → 4 part files); split boundaries
    * only shape batch contents, never the final aggregate.
    */
  private def streamExecMultiBatch(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val src = graft.Scratch.ensure(s,
      s"events_split4_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "events"))) { dir =>
      val Array(minUs, maxUs) = ev
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
        .head.toSeq.map(_.asInstanceOf[Long]).toArray
      val span = maxUs - minUs + 1
      for (i <- 0 until 4) {
        ev.filter(
          unix_micros(col("ts")) >= minUs + i * span / 4 &&
          unix_micros(col("ts")) < minUs + (i + 1) * span / 4)
          .coalesce(1).write.mode("append").parquet(s"$dir/data")
      }
    } + "/data"
    val schema = s.read.parquet(src).schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
    runToMemory(s, "graft_exec_multi",
      windowAgg(stream.withWatermark("ts", "1 minute")), "complete")
      .orderBy(col("window_start"), col("event_type"))
  }

  /** Streaming dedup (dropDuplicatesWithinWatermark) executed end-to-end.
    * Which representative row survives is arrival-dependent, so the row
    * returns only the key set — deterministic, and exactly batch DISTINCT.
    * A key emits at first sight, so the watermark-only trailing batch
    * (which would only evict dedup state) is skipped: one micro-batch.
    */
  private def streamExecDedup(s: SparkSession, d: String): DataFrame =
    runToMemory(s, "graft_exec_dedup",
      readEventStream(s, d)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select(col("user_id"), col("event_type")),
      "append", trailingBatch = false)
      .orderBy(col("user_id"), col("event_type"))

  /** [[streamSessionAgg]] executed BY the streaming engine: session
    * windows are the hardest stateful shape (windows MERGE as late events
    * bridge two open sessions — state is per-key interval sets, not fixed
    * buckets), so gating the real execution path matters more here than
    * for fixed windows. Complete mode + watermark over the bounded
    * AvailableNow source drains to exactly the batch gaps-and-islands
    * answer — same oracle as the batch twin.
    */
  private def streamExecSession(s: SparkSession, d: String): DataFrame =
    runToMemory(s, "graft_exec_sess",
      readEventStream(s, d).filter(col("user_id") < 20)
        .withWatermark("ts", "1 minute")
        .groupBy(session_window(col("ts"), "30 minutes").as("w"),
          col("user_id"))
        .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
        .select(col("user_id"), col("w.start").as("session_start"),
          col("n"), col("sum_value")),
      "complete")
      .orderBy(col("user_id"), col("session_start"))

  /** Typed event row for the custom-state machine: `ts` (timestamp) rides
    * along because the event-time timeout needs a watermarked column in
    * the plan; the arithmetic uses `ts_us` to keep µs precision (a
    * `java.sql.Timestamp` would round-trip through ms).
    */
  case class Ev(user_id: Long, ts: java.sql.Timestamp, ts_us: Long,
                        event_id: Long, value: Double)
  /** Open-session state: sums are exact long cents (the DECIMAL(18,2)
    * convention in integer form) so float order-of-addition can never
    * diverge from the oracle.
    */
  case class OpenSession(startUs: Long, lastUs: Long, n: Long,
                                 sumCents: Long)
  case class SessionOut(user_id: Long, start_us: Long, last_us: Long,
                                n: Long, sum_value: Double)

  private val GapUs = 30L * 60 * 1000000L

  private def cents(v: Double): Long =
    BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
      .underlying.unscaledValue.longValueExact

  /** Per-key state for the streaming anomaly replay: events BUFFERED
    * until the watermark finalizes their position in event-time order,
    * plus the trailing ≤20 finalized values (exact long cents). Buffer
    * size is bounded by the watermark delay × per-key rate; the ring is
    * 20 longs — the honest per-key state contract (production TTLs idle
    * keys).
    */
  case class AnomPend(ts_us: Long, event_id: Long, cents: Long)
  case class AnomState(pend: Seq[AnomPend], hist: Seq[Long])
  case class AnomOut(user_id: Long, event_id: Long, ts_us: Long,
                     n_hist: Int, is_anomaly: Boolean)

  /** The 3σ verdict in exact long cents — the ×100-scaled twin of the
    * batch row's DECIMAL test (both sides of the inequality scale by
    * 10⁴ exactly, so the boolean is identical).
    */
  private def anomVerdict(hist: Seq[Long], x: Long): Boolean =
    hist.size == 20 && {
      val n = hist.size.toLong
      val s1 = hist.sum
      val s2 = hist.map(c => c * c).sum
      val dev = n * x - s1
      dev * dev > 9L * (n * s2 - s1 * s1)
    }

  /** Event-time-ORDERED replay under the watermark — the state pattern
    * none of the other custom-state rows needs: a verdict that depends
    * on the exact trailing-window ORDER of events can only be emitted
    * once the watermark proves no earlier event can still arrive. New
    * events buffer in state; each invocation finalizes (emits, in
    * (ts, id) order, updating the trailing ring) exactly the buffered
    * events at-or-behind the current watermark; a re-registered
    * event-time timeout at wm+1 guarantees the final watermark advance
    * flushes the tail even when that key gets no further data.
    */
  private def anomalyFn(user: Long, it: Iterator[Ev],
      state: org.apache.spark.sql.streaming.GroupState[AnomState])
      : Iterator[AnomOut] = {
    val st0 = state.getOption.getOrElse(AnomState(Nil, Nil))
    val all = st0.pend ++
      it.map(e => AnomPend(e.ts_us, e.event_id, cents(e.value)))
    val wmMs = state.getCurrentWatermarkMs()
    val (ready, pend) = all.partition(_.ts_us <= wmMs * 1000L)
    var hist = st0.hist
    val out = ready.sortBy(e => (e.ts_us, e.event_id)).map { e =>
      val n = hist.size
      val flag = anomVerdict(hist, e.cents)
      hist = (hist :+ e.cents).takeRight(20)
      AnomOut(user, e.event_id, e.ts_us, n, flag)
    }
    state.update(AnomState(pend, hist))
    if (pend.nonEmpty) state.setTimeoutTimestamp(wmMs + 1)
    out.iterator
  }

  /** The sessionization state machine: the per-key session either extends
    * (gap < 30 min), closes-and-emits (a successor event proves the gap),
    * or times out (the WATERMARK proves no successor can arrive within the
    * gap). Batch iterators are unordered by contract, so the function
    * sorts its slice; per-key slices are single-user event runs — bounded
    * in practice and the same per-key-memory contract Spark's own
    * `session_window` state store makes.
    */
  private def closed(user: Long, s0: OpenSession): SessionOut =
    SessionOut(user, s0.startUs, s0.lastUs, s0.n, s0.sumCents / 100.0)

  /** The shared per-key fold: batch iterators are unordered by contract,
    * so sort the slice, then extend/close sessions by the 30-min gap.
    * Returns (sessions closed by a successor event, still-open session).
    * Per-key slices are single-user event runs — bounded in practice and
    * the same per-key-memory contract Spark's own `session_window` state
    * store makes.
    */
  private def foldSessions(user: Long, it: Iterator[Ev],
      init: Option[OpenSession]): (Seq[SessionOut], Option[OpenSession]) = {
    val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
    var open = init
    for (e <- evs) {
      val c = cents(e.value)
      open match {
        case Some(s0) if e.ts_us - s0.lastUs < GapUs =>
          open = Some(OpenSession(s0.startUs, e.ts_us, s0.n + 1,
            s0.sumCents + c))
        case Some(s0) =>
          out += closed(user, s0)
          open = Some(OpenSession(e.ts_us, e.ts_us, 1L, c))
        case None =>
          open = Some(OpenSession(e.ts_us, e.ts_us, 1L, c))
      }
    }
    (out.toSeq, open)
  }

  private def sessionFn(user: Long, it: Iterator[Ev],
      state: org.apache.spark.sql.streaming.GroupState[OpenSession])
      : Iterator[SessionOut] =
    if (state.hasTimedOut) {
      val s0 = state.get
      state.remove()
      Iterator.single(closed(user, s0))
    } else {
      val (out, open) = foldSessions(user, it, state.getOption)
      open.foreach { s0 =>
        state.update(s0)
        state.setTimeoutTimestamp(s0.lastUs / 1000L + GapUs / 1000L)
      }
      out.iterator
    }

  /** The SAME session machine as [[sessionFn]] on Spark 4's
    * `transformWithState` — the arbitrary-state successor API: named state
    * variables behind a handle, EXPLICIT registered timers instead of one
    * implicit timeout slot, and a RocksDB-backed state store (the provider
    * the API requires — also the backend per-key state outgrowing executor
    * heap needs at 100 TB). Timer hygiene: each extension deletes the
    * session's previous timer and registers the new expiry, so exactly one
    * timer is live per open session and [[handleExpiredTimer]] never sees
    * a stale expiry (the `expiryMs` guard is belt-and-braces).
    */
  private class SessionProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
      TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var open: ValueState[OpenSession] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      open = getHandle.getValueState[OpenSession]("open",
        org.apache.spark.sql.Encoders.product[OpenSession], TTLConfig.NONE)
    private def expiryMs(s0: OpenSession): Long =
      s0.lastUs / 1000L + GapUs / 1000L
    override def handleInputRows(user: Long, it: Iterator[Ev],
        tv: TimerValues): Iterator[SessionOut] = {
      val init = if (open.exists()) Some(open.get()) else None
      init.foreach(s0 => getHandle.deleteTimer(expiryMs(s0)))
      val (out, cur) = foldSessions(user, it, init)
      cur.foreach { s0 =>
        open.update(s0)
        getHandle.registerTimer(expiryMs(s0))
      }
      out.iterator
    }
    override def handleExpiredTimer(user: Long, tv: TimerValues,
        info: ExpiredTimerInfo): Iterator[SessionOut] =
      if (open.exists() && expiryMs(open.get()) == info.getExpiryTimeInMs) {
        val s0 = open.get()
        open.clear()
        Iterator.single(closed(user, s0))
      } else Iterator.empty
  }

  /** Sessionization as an EXPLICIT state machine via
    * `flatMapGroupsWithState` (append mode, event-time timeout) — the
    * custom-state API tier `session_window` can't reach: arbitrary
    * per-key state (here an open-session struct), inline emission when a
    * successor event closes a session, and WATERMARK-DRIVEN timeout
    * emission for sessions nothing ever follows. Like the outer interval
    * join, final-session emission is an eviction contract: a bounded
    * AvailableNow run advances the watermark to max ts − 1 min, timing
    * out sessions whose last event is ≥ 31 min older; the row (and
    * oracle) restrict to session_last ≤ max ts − 32 min — the
    * provably-emitted region (1-min safety margin) — via a 1-row driver
    * bound fetch inlined as a literal. State is one small struct per
    * ACTIVE key, watermark-evicted — the 100 TB shape. Oracle: the batch
    * gaps-and-islands CTE with the same cutoff, computed in SQL.
    */
  /** (typed watermarked event stream, provably-emitted-region cutoff in
    * µs) — shared by both custom-state rows.
    */
  private def sessionStreamParts(s: SparkSession, d: String)
      : (org.apache.spark.sql.Dataset[Ev], Long) = {
    import s.implicits._
    val maxTs = events(s, d).filter(col("user_id") < 20)
      .agg(max(col("ts"))).head.getTimestamp(0)
    val cutoffUs = maxTs.getTime * 1000L - 32L * 60 * 1000000L
    val typed = readEventStream(s, d).filter(col("user_id") < 20)
      .withWatermark("ts", "1 minute")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[Ev]
    (typed, cutoffUs)
  }

  private def sessionRows(sink: DataFrame, cutoffUs: Long): DataFrame =
    sink.filter(col("last_us") <= lit(cutoffUs))
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        col("n"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))

  private def streamExecCustomState(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val (typed, cutoffUs) = sessionStreamParts(s, d)
    val sessions = typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(sessionFn)
    sessionRows(
      runToMemory(s, "graft_exec_custom", sessions.toDF(), "append"),
      cutoffUs)
  }

  /** [[SessionProcessor]] executed end-to-end: same machine, same oracle,
    * run through `transformWithState` + explicit timers + the RocksDB
    * state store (provider set for this query only, restored after — the
    * API requires it, and it is the backend that holds when per-key state
    * outgrows executor heap at 100 TB).
    */
  private def streamExecTwsSession(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val (typed, cutoffUs) = sessionStreamParts(s, d)
    val sessions = typed.groupByKey(_.user_id)
      .transformWithState(new SessionProcessor, TimeMode.EventTime(),
        OutputMode.Append())
    sessionRows(
      runToMemory(s, "graft_exec_tws", sessions.toDF(), "append",
        confs = Seq("spark.sql.streaming.stateStore.providerClass" ->
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")),
      cutoffUs)
  }

  /** The batch `events_anomaly` verdict executed BY the streaming engine
    * ([[anomalyFn]]): watermarked event stream → per-user ordered replay
    * from buffered state → trailing-20 3σ flags, emitted exactly when
    * the watermark finalizes each event's position. The gated region is
    * ts ≤ max − 2 min (final AvailableNow watermark is max − 1 min, so
    * every gated event is provably emitted — the session rows' margin
    * convention); the oracle is the SAME decimal window CTE as the batch
    * row under that cutoff, so the incremental execution is held to the
    * batch semantics row-for-row. State per key: the ≤20-cent ring plus
    * a watermark-bounded buffer — the 100 TB shape for any
    * order-sensitive streaming feature (trailing z-scores, deltas,
    * sequence numbers).
    */
  private def streamExecAnomaly(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    val maxTs = events(s, d).filter(col("user_id") < 50)
      .agg(max(col("ts"))).head.getTimestamp(0)
    val cutoffUs = maxTs.getTime * 1000L - 2L * 60 * 1000000L
    val typed = readEventStream(s, d).filter(col("user_id") < 50)
      .withWatermark("ts", "1 minute")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value")).as[Ev]
    val flags = typed.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(anomalyFn)
    runToMemory(s, "graft_exec_anomaly", flags.toDF(), "append")
      .filter(col("ts_us") <= lit(cutoffUs))
      .select(col("event_id"), col("user_id"), col("n_hist"),
        col("is_anomaly"))
      .orderBy(col("event_id"))
  }

  /** Multi-source fan-in executed BY the streaming engine: two
    * independent watermarked streams over disjoint slices of the corpus
    * (the two-ingest-pipelines-one-table shape) UNIONed ahead of a
    * shared windowed aggregate. Each branch keeps its own source offsets
    * and watermark; the engine takes the MIN across branches before
    * state eviction, so a lagging source can never cause the other's
    * windows to finalize early — that cross-branch watermark coupling is
    * the thing this row exercises that a single-source row can't. Oracle:
    * the same aggregate over the whole table (the slices partition it).
    */
  private def streamExecUnion(s: SparkSession, d: String): DataFrame = {
    def branch(lo: Long, hi: Long) =
      readEventStream(s, d).filter(col("user_id") >= lo && col("user_id") < hi)
        .withWatermark("ts", "1 minute")
    val unioned = branch(0L, 25L).unionAll(branch(25L, Long.MaxValue))
    runToMemory(s, "graft_exec_union", windowAgg(unioned), "complete")
      .orderBy(col("window_start"), col("event_type"))
  }

  /** The SAME session machine through the TYPED batch API —
    * `Dataset[Ev].groupByKey(...).flatMapGroups` over case-class
    * Encoders: the per-key imperative tier for logic an aggregate
    * composition would obscure. Reuses [[foldSessions]] verbatim, so ONE
    * fold now serves three execution paths (batch flatMapGroups, fMGWS,
    * transformWithState) and all three are gated against the same
    * gaps-and-islands SQL family; batch has no watermark, so the final
    * open session closes at end-of-group and EVERY session is emitted
    * (the `sessionize_batch` oracle, unrestricted). Per-key memory is
    * one user's event run — the same contract the streaming rows make.
    */
  private def sessionizeTyped(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val typed = events(s, d).filter(col("user_id") < 20)
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("value"))
      .as[Ev]
    typed.groupByKey(_.user_id)
      .flatMapGroups { (u: Long, it: Iterator[Ev]) =>
        val (done, open) = foldSessions(u, it, None)
        done.iterator ++ open.map(closed(u, _)).iterator
      }
      .toDF()
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("session_start"),
        col("n"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** `foreachBatch` — the bring-your-own-sink tier a production pipeline
    * ends in when the destination isn't a first-class sink (JDBC
    * upserts, multi-table fan-out, external indexes). Exactly-once is
    * COMPOSED, not assumed: the replayable file source re-offers a
    * failed micro-batch under the SAME batchId, and the writer is
    * idempotent per batchId — each batch lands in its own `batch_id=N`
    * partition with overwrite mode, so a replay overwrites its previous
    * output instead of double-appending (the recovery contract the
    * foreachBatch docs specify). The row reads the partition tree back
    * and aggregates; the oracle sees only the original events table, so
    * losslessness of the whole custom write path is what the gate
    * checks. [[foreachBatchWriter]] is public so the spec can re-fire a
    * batch and prove replay idempotence.
    */
  def foreachBatchWriter(out: String): (DataFrame, Long) => Unit =
    (df, batchId) =>
      df.write.mode("overwrite").parquet(s"$out/batch_id=$batchId")

  def foreachBatchOut(s: SparkSession): String =
    graft.Scratch.root(s) + "/stream_fb_out"

  private def streamExecForeachBatch(s: SparkSession, d: String): DataFrame = {
    val out = foreachBatchOut(s)
    graft.Scratch.purge(out)
    val q = readEventStream(s, d).writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch(foreachBatchWriter(out))
      .start()
    require(q.awaitTermination(300000), "foreachBatch did not terminate")
    s.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy(col("event_type"))
  }

  // -- the end-to-end streaming ingest pipeline --------------------------

  private[graft] val IngestBatches = 4

  /** Build (once, cached) the crawl-batch source: the documents table
    * sliced into [[IngestBatches]] single-file "crawl drops"
    * (`doc_id % 4`), each stamped with a per-batch `crawl_ts` and a
    * strictly increasing file mtime — the file source offers files
    * oldest-first, so ARRIVAL ORDER IS BATCH ORDER, which the ingest
    * dedup depends on (a later batch probes the corpus the earlier
    * batches built).
    */
  private[graft] def ensureIngestSrc(s: SparkSession, d: String): String =
    graft.Scratch.ensure(s,
      s"ingest_src_v1_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "documents"))) { dir =>
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$dir/data"))
      for (b <- 0 until IngestBatches) {
        val tmp = s"$dir/tmp$b"
        docs.filter(pmod(col("doc_id"), lit(IngestBatches)) === b)
          // 2024-01-01 + one hour per crawl drop, the stream's event time
          .withColumn("crawl_ts", timestamp_micros(
            lit(1704067200L * 1000000L + b * 3600L * 1000000L)))
          .coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        val dst = java.nio.file.Paths.get(s"$dir/data/batch-$b.parquet")
        java.nio.file.Files.move(part.toPath, dst)
        require(dst.toFile.setLastModified(1700000000000L + b * 60000L),
          s"could not stamp mtime on $dst")
        graft.Scratch.purge(tmp)
      }
    } + "/data"

  /** One micro-batch of the ingest funnel — html-extract → quality gate →
    * asymmetric near-dup probe against the already-accepted corpus →
    * idempotent accept. Public within the package so the spec can re-fire
    * a batch and prove replay idempotence.
    *
    * Near-dup KEY: shingles of the RAW fetched text, not the extracted
    * text. The fixture's page chrome (link/script/punctuation injections)
    * is doc_id-keyed, so two near-identical documents get DIFFERENT
    * boilerplate — measured on the sf0.01 fixture, raw-Jaccard-0.96+
    * pairs drop to 0.30-0.77 after extraction, under any usable
    * threshold. Keying near-dup on the full fetched content (the
    * crawl-content fingerprint, as URL/content-level crawl dedup does)
    * keeps the 0.8 threshold and the banding recall guarantee intact;
    * the ACCEPTED payload (n_words, downstream text) is still the
    * extracted text.
    *
    * Exactly-once: the replayable file source re-offers a failed batch
    * under the SAME batchId, and both writes land in their own
    * `ingest_batch=N` partition with overwrite mode — a replay overwrites
    * its previous attempt instead of double-appending, and the probe
    * reads strictly `ingest_batch < N`, so a half-written attempt can
    * never feed its own replay.
    *
    * Scale shape per batch: one map-only extract+gate pass, band keys
    * probed against the PERSISTED corpus index (`bands/` holds 8-byte
    * band keys per doc — at 100 TB the corpus side is this index, not the
    * corpus), exact-Jaccard verify on candidates only, and a broadcast
    * anti-join of the dup ids (report-sized) against the batch. Cost
    * scales with |batch| · bucket density, never |corpus|² — the
    * [[graft.operators.Dedup.bandKeys]] incremental contract.
    */
  private[graft] def ingestOneBatch(acceptedDir: String, bandsDir: String)
      (df: DataFrame, batchId: Long): Unit = {
    val s = df.sparkSession
    import graft.operators.{Dedup, TextAnalysis}
    import graft.functions.{GraftFunctions, TextFunctions => TF}
    // spread the drop across the session's cores BEFORE the extract
    // (r19 audit, guide §2.5 input skew: maxFilesPerTrigger=1 means each
    // micro-batch arrives as ONE file = one partition, so the dominant
    // per-batch compute — extract + quality + shingles, ~400 ms of task
    // time — ran on a single core). The shuffle moves only the raw drop
    // (KBs/doc) once; the explicit partition count keeps AQE from
    // coalescing the small exchange back to one partition, and it is
    // cluster-width-adaptive, not a tuned constant.
    // AQE scoped OFF for the whole batch fn (restored in finally): each
    // micro-batch runs ~5 tiny queries over a ≤drop-sized frame, and
    // AQE's per-exchange re-optimization turns every one into extra job
    // rounds + driver planning passes (r19 audit: 6 jobs for the probe
    // alone, ~500 ms of between-job driver gap per batch). The exchanges
    // here are drop-sized by construction — there is nothing for AQE to
    // adapt.
    // `s` is already the per-query clone foreachBatch hands each batch,
    // so setting the conf here never reaches the caller's session.
    withConfs(s, "spark.sql.adaptive.enabled" -> "false") {
    val batch = df
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .select(col("doc_id"), col("source"),
        GraftFunctions.html_extract(TextAnalysis.htmlPageExpr)
          .getField("text_clean").as("text"),
        GraftFunctions.word_shingles(
          TF.words(col("text")), Dedup.ShingleN).as("sh"))
      .filter(TextAnalysis.qualityPred)
      .select(col("doc_id"), col("source"),
        size(TF.words(col("text"))).as("n_words"), col("sh"))
      .cache()
    // order guard: exactly one crawl drop per micro-batch, in crawl
    // order — a violated ordering must fail loudly, not silently produce
    // a different corpus than the sequential replay the oracle runs.
    // Computed over the cached post-quality frame so the SAME job that
    // validates ordering also materializes the cache (one batch scan,
    // not two); a drop whose every doc fails quality skips the guard and
    // accepts nothing, which is also what a correct run would do.
    val bs = batch.select(pmod(col("doc_id"), lit(IngestBatches))
        .cast("int").as("b")).distinct().collect().map(_.getInt(0))
    if (bs.isEmpty) { batch.unpersist(blocking = false); () }
    else {
      require(bs.length == 1 && bs.head == batchId,
        s"ingest batch $batchId carried crawl drops ${bs.mkString(",")} — " +
          "file-source ordering broke the one-drop-per-batch contract")
      def label(stage: String): Unit =
        s.sparkContext.setJobDescription(s"ingest b$batchId: $stage")
      try {
        val newBands = Dedup.bandKeys(batch.filter(size(col("sh")) > 0))
        // per-batch corpus reads carry EXPLICIT schemas (r19 audit: each
        // schema-less read re-inferred the same schema per micro-batch —
        // a handful of listing/footer jobs inside every addBatch). Both
        // schemas are statically the write side's frame plus the
        // ingest_batch partition column the batchId-keyed dirs encode.
        val accSchema = batch.schema.add("ingest_batch", "int")
        val bandsSchema = newBands.schema.add("ingest_batch", "int")
        // dup ids are REPORT-SIZED (bounded by the arriving batch), so
        // one driver collect replaces the r18 shape's cached frame + TWO
        // broadcast-hash builds (each a separate job + driver setup per
        // write) — the id set then prunes both writes as a codegen'd
        // InSet, map-side, zero extra jobs (r19 audit: ~15 jobs per
        // addBatch, wall dominated by per-job driver latency). Same
        // driver-side footprint as the broadcasts it replaces.
        val droppedIds: Array[Long] =
          if (batchId == 0L) Array.empty
          else {
            val corpusBands = s.read.schema(bandsSchema).parquet(bandsDir)
              .filter(col("ingest_batch") < batchId)
            val corpusSh = s.read.schema(accSchema).parquet(acceptedDir)
              .filter(col("ingest_batch") < batchId)
              .filter(size(col("sh")) > 0)
              .select(col("doc_id").as("dup_of"), col("sh").as("sh_b"))
            // the arriving batch is ≪ the accumulated corpus index, so
            // the batch side broadcasts and the index streams through a
            // map-side probe — without the hints Catalyst (no stats on
            // the fresh write) would sort-merge, shuffling the whole
            // corpus index every micro-batch
            val cands = broadcast(newBands
              .select(col("doc_id").as("new_doc"),
                col("band"), col("h1"), col("h2")))
              .join(corpusBands.select(col("doc_id").as("dup_of"),
                col("band"), col("h1"), col("h2")),
                Seq("band", "h1", "h2"))
              .select(col("new_doc"), col("dup_of")).distinct()
            label("near-dup probe")
            Dedup.verifyJaccard(broadcast(cands
              .join(batch.select(col("doc_id").as("new_doc"),
                col("sh").as("sh_a")), Seq("new_doc")))
              .join(corpusSh, Seq("dup_of")))
              .select(col("new_doc").as("doc_id")).distinct()
              .collect().map(_.getLong(0))
          }
        def keepOnly(df: DataFrame): DataFrame =
          if (droppedIds.isEmpty) df
          // a NULL doc_id is never a dropped id, but a bare NOT IN drops it
          else df.filter(col("doc_id").isNull ||
            !col("doc_id").isin(droppedIds.toIndexedSeq: _*))
        // coalesce(1): keep the pre-repartition on-disk layout (one file
        // per batch dir — the corpus reads re-list these dirs every
        // micro-batch); the single write task just drains the cached
        // post-funnel blocks
        label("accept write")
        keepOnly(batch).coalesce(1).write.mode("overwrite")
          .parquet(s"$acceptedDir/ingest_batch=$batchId")
        label("bands write")
        keepOnly(newBands).coalesce(1).write.mode("overwrite")
          .parquet(s"$bandsDir/ingest_batch=$batchId")
      } finally {
        s.sparkContext.setJobDescription(null)
        batch.unpersist(blocking = false)
      }
    }
    }
  }

  /** The END-TO-END STREAMING INGEST pipeline — the composition a 100 TB
    * corpus build actually runs, which the 16 single-shape `stream_*`
    * rows gate only piecewise: a watermarked file stream of crawl drops,
    * consumed one drop per micro-batch (`maxFilesPerTrigger = 1` under
    * `Trigger.AvailableNow`), each micro-batch funneled through
    * [[ingestOneBatch]] (extract → quality → asymmetric batch-vs-corpus
    * near-dup probe → accept) with the accepted corpus and its band-key
    * index ACCUMULATING across batches — batch N's dedup consults state
    * built by batches 0..N-1. Exactly-once is composed from the
    * replayable source + checkpointed offsets + batchId-keyed idempotent
    * partition overwrites (the [[foreachBatchWriter]] contract), and the
    * whole run is deterministic, so the oracle replays the four-layer
    * accept chain in SQL. Returns the final accepted corpus.
    *
    * Cost audit (sf0.1, 32 cores, r12, per-batch progress): warm total
    * ≈ 6.9 s = 4 micro-batches × 1.3–1.9 s triggerExecution, of which
    * ~95% is addBatch — the funnel work itself (extract + gate + guard
    * + probe + two writes over ~1,250 docs/drop); offsets/WAL commits
    * are ~70 ms/batch and queryPlanning ~6 ms, and stateOperators is
    * EMPTY (the dedup state lives in the partitioned corpus index, not
    * a state store) — so unlike the interval-join rows there is no
    * commit machinery to tune: the row's cost is its work.
    */
  /** Where the accepted corpus + band index of [[pipelineStreamingIngest]]
    * for dataset `d` live — exposed so the spec can re-fire a batch
    * against the real output tree and prove replay idempotence
    * ([[graft.Scratch.pidDir]]: private to this process).
    */
  private[graft] def ingestRoot(s: SparkSession, d: String): String =
    graft.Scratch.pidDir(s, ingestName(d))
  private def ingestName(d: String) = s"stream_ingest_${graft.Scratch.sanitize(d)}"

  private def pipelineStreamingIngest(s: SparkSession, d: String)
      : DataFrame = {
    val src = ensureIngestSrc(s, d)
    val root = graft.Scratch.freshPidDir(s, ingestName(d))
    val acceptedDir = s"$root/accepted"
    val bandsDir = s"$root/bands"
    val schema = s.read.parquet(src).schema
    val q = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .withWatermark("crawl_ts", "1 hour")
      .writeStream
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch(ingestOneBatch(acceptedDir, bandsDir) _)
      .start()
    require(q.awaitTermination(300000),
      "pipeline_streaming_ingest did not self-terminate")
    s.read.parquet(acceptedDir)
      .select(col("doc_id"), col("source"), col("n_words"),
        col("ingest_batch").cast("long").as("ingest_batch"))
      .orderBy(col("doc_id"))
  }

  /** The ingest oracle: the four-layer accept chain unrolled as generated
    * CTE layers (the BPE-train technique — each layer needs the PREVIOUS
    * layers' accepted set, which a recursive CTE cannot re-aggregate):
    * extraction + quality replayed from the shared
    * [[graft.operators.TextAnalysis.HtmlExtractCtes]], then
    * acc_b = quality docs of drop b with no exact-Jaccard-≥0.8 raw-shingle
    * match in acc_0..acc_{b-1}.
    */
  private def ingestOracleSql: String = {
    // each layer's reject set via the inverted-index form (VERDICT r16
    // item 3): candidates from the shared-shingle equi join, intersection
    // size = per-pair join row count (sh is list_distinct), jaccard from
    // counts — no list_intersect, no batch×accumulated cross join. Exact:
    // jaccard >= 0.8 > 0 implies a shared shingle, and the explode drops
    // exactly the len(sh) = 0 docs the old NOT EXISTS guarded against.
    val layers = (1 until IngestBatches).map { b =>
      val prior = (0 until b).map(i => s"SELECT * FROM acc$i")
        .mkString(" UNION ALL ")
      s""",
      dup$b AS (
        SELECT DISTINCT da FROM (
          SELECT a.doc_id AS da, c.doc_id AS dc,
                 COUNT(*) AS cc, ANY_VALUE(a.n) AS na, ANY_VALUE(c.n) AS nc
          FROM (SELECT doc_id, len(sh) AS n, unnest(sh) AS s
                FROM shd WHERE b = $b) a
          JOIN (SELECT doc_id, len(sh) AS n, unnest(sh) AS s
                FROM ($prior)) c USING (s)
          GROUP BY 1, 2)
        WHERE 1.0*cc/(na + nc - cc) >= 0.8),
      acc$b AS (
        SELECT * FROM shd
        WHERE b = $b AND doc_id NOT IN (SELECT da FROM dup$b))"""
    }.mkString
    val all = (0 until IngestBatches).map(i => s"SELECT * FROM acc$i")
      .mkString(" UNION ALL ")
    s"""
      WITH ${graft.operators.TextAnalysis.HtmlExtractCtes},
      cl AS (
        SELECT e.doc_id, d.source,
               CAST(e.doc_id % $IngestBatches AS BIGINT) AS b,
               lower(regexp_replace(trim(e.text_clean), '\\s+', ' ', 'g'))
                 AS norm,
               string_split(${graft.operators.TextAnalysis.NormSql}, ' ')
                 AS rws
        FROM ext e JOIN documents d USING (doc_id)),
      qd AS (
        SELECT doc_id, source, b, rws, string_split(norm, ' ') AS cws
        FROM cl
        WHERE len(string_split(norm, ' ')) BETWEEN 10 AND 100000
          AND CAST(length(replace(norm, ' ', '')) AS DOUBLE)
              / len(string_split(norm, ' ')) BETWEEN 2.0 AND 12.0
          AND CAST(list_sum(list_transform(string_split(norm, ' '),
                x -> CASE WHEN x IN ('the','a','is','and','of')
                     THEN 1 ELSE 0 END)) AS INT) >= 2),
      shd AS (
        SELECT doc_id, source, b, CAST(len(cws) AS INT) AS n_words,
               CASE WHEN len(rws) >= 3 THEN
                 list_distinct([ rws[i] || ' ' || rws[i+1] || ' ' || rws[i+2]
                   for i in range(1, len(rws)-1) ])
               ELSE [] END AS sh
        FROM qd),
      acc0 AS (SELECT * FROM shd WHERE b = 0)$layers
      SELECT doc_id, source, n_words, b AS ingest_batch
      FROM ($all) ORDER BY doc_id"""
  }

  /** Stream–static dimension join executed by the streaming engine — the
    * enrichment shape of every production pipeline (event stream ⋈ slowly
    * changing dimension). The static side is explicitly `broadcast()` and
    * re-planned per micro-batch, so each batch is a stateless map-only
    * probe: a stream-static inner join needs NO state store (the static
    * side is complete by definition), which is why enrichment scales to
    * unbounded streams while a stream-stream join must bound state with
    * watermarks. The complete-mode aggregate downstream proves stateful
    * aggregation composes after the enrichment.
    */
  private def streamExecStaticJoin(s: SparkSession, d: String): DataFrame = {
    val dim = Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = readEventStream(s, d)
      .join(broadcast(dim), col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(col("c_mktsegment").as("segment"), col("n"), col("sum_value"))
    runToMemory(s, "graft_exec_static", joined, "complete")
      .orderBy(col("segment"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_streaming_ingest" -> pipelineStreamingIngest _,
    "stream_window_agg" -> streamWindowAgg _,
    "stream_exec_static_join" -> streamExecStaticJoin _,
    "stream_exec_custom_state" -> streamExecCustomState _,
    "stream_exec_tws_session" -> streamExecTwsSession _,
    "stream_exec_anomaly" -> streamExecAnomaly _,
    "stream_exec_foreach_batch" -> streamExecForeachBatch _,
    "stream_exec_union" -> streamExecUnion _,
    "sessionize_typed" -> sessionizeTyped _,
    "stream_session_agg" -> streamSessionAgg _,
    "stream_sliding_agg" -> streamSlidingAgg _,
    "stream_json_props" -> streamJsonProps _,
    "stream_exec_window_agg" -> streamExecWindowAgg _,
    "stream_exec_multi_batch" -> streamExecMultiBatch _,
    "stream_exec_sliding_agg" -> streamExecSlidingAgg _,
    "stream_exec_ckpt_restart" -> (streamExecCheckpointRestart _),
    "stream_exec_interval_join" -> streamExecIntervalJoin _,
    "stream_exec_interval_join_outer" -> streamExecIntervalJoinOuter _,
    "stream_exec_dedup" -> streamExecDedup _,
    "stream_exec_session" -> streamExecSession _
  )

  private val SlidingOracleSql = """
      WITH slid AS (
        SELECT CAST(time_bucket(INTERVAL 30 MINUTE, ts) AS TIMESTAMP)
                 - CASE WHEN k = 1 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END
                 AS window_start,
               value
        FROM events, (SELECT unnest([0, 1]) AS k))
      SELECT window_start, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM slid GROUP BY window_start ORDER BY window_start"""

  private val WindowAggSql = """
      SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS window_start,
             event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY 1, 2 ORDER BY window_start, event_type"""

  private val SessionAggSql = """
      WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE user_id < 20),
      sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked)
      SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM sessions GROUP BY user_id, sid
      ORDER BY user_id, session_start"""

  private val CustomStateSql = """
      WITH marked AS (
        SELECT user_id, ts, event_id, value,
               CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         >= INTERVAL 30 MINUTE
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events WHERE user_id < 20),
      sessions AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        FROM marked),
      agg AS (
        SELECT user_id, CAST(MIN(ts) AS TIMESTAMP) AS session_start,
               MAX(CAST(ts AS TIMESTAMP)) AS session_last, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM sessions GROUP BY user_id, sid)
      SELECT user_id, session_start, n, sum_value FROM agg
      WHERE session_last <= (SELECT MAX(CAST(ts AS TIMESTAMP)) - INTERVAL 32 MINUTE
                             FROM events WHERE user_id < 20)
      ORDER BY user_id, session_start"""

  val oracles: Map[String, String] = Map(
    // the sequential four-drop ingest replayed as unrolled accept layers
    "pipeline_streaming_ingest" -> ingestOracleSql,
    "stream_window_agg" -> WindowAggSql,
    // the streaming-engine-executed rows share batch semantics: complete-
    // mode aggregation / inner interval join / key-set dedup are all
    // exactly their batch equivalents once the bounded source drains
    "stream_exec_window_agg" -> WindowAggSql,
    // incremental accumulation across >=4 rate-limited batches must drain
    // to exactly the one-batch / batch-mode answer
    "stream_exec_multi_batch" -> WindowAggSql,
    "stream_exec_sliding_agg" -> SlidingOracleSql,
    // the batch aggregate restricted to the provably-finalized region:
    // window_end <= max ts - watermark delay - 61 s safety margin
    "stream_exec_ckpt_restart" -> """
      WITH w AS (
        SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP)
                 AS window_start,
               event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        FROM events GROUP BY 1, 2),
      m AS (SELECT MAX(CAST(ts AS TIMESTAMP)) AS maxts FROM events)
      SELECT w.window_start, w.event_type, w.n, w.sum_value
      FROM w, m
      WHERE w.window_start + INTERVAL 1 HOUR
              <= m.maxts - INTERVAL 661 SECOND
      ORDER BY w.window_start, w.event_type""",
    // the two branch slices partition the corpus, so the unioned stream
    // aggregates to exactly the whole-table answer
    "stream_exec_union" -> WindowAggSql,
    // the foreachBatch partition tree holds exactly the drained source,
    // so aggregating it equals aggregating the original table
    "stream_exec_foreach_batch" -> """
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events GROUP BY event_type ORDER BY event_type""",
    // stream-static inner join is stateless: once the bounded source
    // drains, the enriched aggregate equals the batch join exactly
    "stream_exec_static_join" -> """
      SELECT c.c_mktsegment AS segment, COUNT(*) AS n,
             CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      FROM events e JOIN customer c ON c.c_custkey = e.user_id
      GROUP BY 1 ORDER BY segment""",
    "stream_exec_interval_join" -> """
      SELECT c.event_id AS click_event, p.event_id AS purchase_event,
             c.user_id AS user_id
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'click') c
      JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND c.ts BETWEEN p.ts AND p.ts + INTERVAL 30 MINUTE
      ORDER BY click_event, purchase_event""",
    // outer rows equal the batch left join on the provably-evicted
    // region: clicks at or below the final global watermark
    // (min of the two streams' max ts, - 1h) minus the 30-minute join
    // interval and a 1-minute safety margin
    "stream_exec_interval_join_outer" -> """
      SELECT c.event_id AS click_event, p.event_id AS purchase_event,
             c.user_id AS user_id
      FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'click') c
      LEFT JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
            FROM events WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id
       AND c.ts BETWEEN p.ts AND p.ts + INTERVAL 30 MINUTE
      WHERE c.ts <= (SELECT MIN(m) - INTERVAL 91 MINUTE FROM (
                       SELECT event_type, MAX(CAST(ts AS TIMESTAMP)) AS m
                       FROM events WHERE event_type IN ('click', 'purchase')
                       GROUP BY event_type))
      ORDER BY click_event, purchase_event""",
    "stream_exec_dedup" -> """
      SELECT DISTINCT user_id, event_type FROM events
      ORDER BY user_id, event_type""",
    "stream_session_agg" -> SessionAggSql,
    // the typed flatMapGroups machine closes every session at
    // end-of-group, so it equals the unrestricted batch sessionization
    "sessionize_typed" -> SessionAggSql,
    // the custom-state machines equal batch gaps-and-islands on the
    // provably-emitted region: sessions whose last event is at or below
    // the final watermark (max ts − 1 min) minus the 30-min gap and a
    // 1-minute safety margin
    "stream_exec_custom_state" -> CustomStateSql,
    "stream_exec_tws_session" -> CustomStateSql,
    // the streaming anomaly replay equals the batch decimal window CTE
    // on the provably-emitted region (ts <= max - 2 min; the final
    // AvailableNow watermark is max - 1 min)
    "stream_exec_anomaly" -> """
      WITH t AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS mts, value,
               CAST(value AS DECIMAL(12,2)) AS vd
        FROM events WHERE user_id < 50),
      w AS (
        SELECT event_id, user_id, mts,
               CAST(COUNT(vd) OVER win AS INT) AS n_hist,
               CAST(SUM(vd) OVER win AS DECIMAL(16,2)) AS s1,
               CAST(SUM(vd*vd) OVER win AS DECIMAL(18,4)) AS s2,
               CAST(value AS DECIMAL(12,2)) AS xd
        FROM t
        WINDOW win AS (PARTITION BY user_id ORDER BY mts, event_id
                       ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)),
      m AS (SELECT MAX(mts) AS mx FROM t)
      SELECT event_id, user_id, n_hist,
             (n_hist = 20 AND
              (CAST(n_hist AS DECIMAL(4,0)) * xd - s1)
              * (CAST(n_hist AS DECIMAL(4,0)) * xd - s1)
              > CAST(9 AS DECIMAL(2,0))
                * (CAST(n_hist AS DECIMAL(4,0)) * s2 - s1 * s1))
               AS is_anomaly
      FROM w, m
      WHERE epoch_us(w.mts) <= epoch_us(m.mx) - 120000000
      ORDER BY event_id""",
    // merging session windows drained under AvailableNow equal the batch
    // gaps-and-islands sessionization exactly
    "stream_exec_session" -> SessionAggSql,
    "stream_sliding_agg" -> SlidingOracleSql,
    "stream_json_props" -> """
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
             MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
             MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
      FROM events GROUP BY event_type ORDER BY event_type"""
  ).map { case (k, v) => k -> v.stripMargin.trim }
}
