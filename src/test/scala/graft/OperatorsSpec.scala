package graft

import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  import SparkTestSession._

  // Queries whose result can be empty at sf0.001 are still exercised for
  // no-throw; everything else must produce rows.
  private val mayBeEmpty = Set("agg_having")

  for ((name, fn) <- operators.Relational.queries.toSeq.sortBy(_._1)) {
    test(s"$name runs at sf0.001") {
      val n = fn(spark, sfDir).count()
      if (!mayBeEmpty(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("codec contract: 5 live / 2 declared — fails loudly if brotli/lzo go live") {
    // The reference enumerates 7 parquet codecs (rust/benchmarks/tpch/src/
    // main.rs:233-253); Spark ships 5 implementations and brotli/lzo need
    // native jars absent from the pinned classpath. The repo claims
    // "5 live / 2 declared" everywhere (VERDICT r10-r13) — this spec PINS
    // that claim: if the classpath ever gains a native codec, the write
    // below succeeds and the test fails with upgrade instructions, so the
    // claim can never silently rot in either direction.
    import graft.context.{Compression, SessionContext}
    val ctx = new SessionContext(spark)
    val src = Tables.load(spark, sfDir, "region")
    for (c <- Seq(graft.context.Compression.Brotli,
                  graft.context.Compression.Lzo)) {
      val dir = SparkTestSession.tempDir(s"codec_${Compression.option(c)}")
      val wrote =
        try { ctx.writeParquet(src, dir, c); true }
        catch { case _: Throwable => false }
      assert(!wrote,
        s"${Compression.option(c)} wrote successfully — the classpath now " +
        "carries its native codec: upgrade parquetSinkCodecs " +
        "(operators/Relational.scala) to exercise it live, update the " +
        "5-live/2-declared claim in SessionContext/README, then flip this " +
        "assertion")
    }
    // and the 5 live ones stay live: a round-trip through each codec
    for (c <- Seq(Compression.None_, Compression.Snappy, Compression.Gzip,
                  Compression.Lz4, Compression.Zstd)) {
      val dir = SparkTestSession.tempDir(s"codec_${Compression.option(c)}")
      ctx.writeParquet(src, dir, c)
      assert(ctx.readParquet(dir).count() == src.count(),
        s"${Compression.option(c)} round-trip lost rows")
    }
  }

  test("sink_parquet_codecs: overlapped writes carry the caller's job tag, leave no _temporary") {
    // the codec writes run on fresh threads; every job they start must
    // carry the CURRENT caller's tags, not those of an earlier call (a
    // reused pool thread would keep the first call's). Job ids are
    // assigned in submission order, so the window is the ids between two
    // tagged sentinel jobs.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Set[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(e.jobId -> Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
          .map(_.split(",").toSet).getOrElse(Set.empty)): Unit
    }
    def tagged[A](tag: String)(body: => A): A = {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
    }
    def idOf(tag: String) = jobs.asScala.find(_._2(tag)).map(_._1)
    sc.addSparkListener(listener)
    try {
      tagged("pb-earlier") {
        SparkEntry.queries("sink_parquet_codecs")(spark, sfDir).collect()
      }
      tagged("pb-before")(sc.parallelize(Seq(1), 1).count())
      tagged("pb-sink") {
        SparkEntry.queries("sink_parquet_codecs")(spark, sfDir).collect()
      }
      tagged("pb-after")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30e9.toLong
      while (idOf("pb-after").isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      val (lo, hi) = (idOf("pb-before").get, idOf("pb-after").get)
      val window = jobs.asScala.toSeq.filter { case (id, _) => id > lo && id < hi }
      assert(window.nonEmpty, "the sink row started no job")
      assert(window.forall(_._2("pb-sink")),
        s"untagged jobs in the sink window: ${window.filterNot(_._2("pb-sink"))}")
    } finally sc.removeSparkListener(listener)
    val dirs = Seq("none", "snappy", "gzip", "lz4", "zstd")
      .map(c => new java.io.File(Scratch.root(spark), s"orders_$c"))
    assert(dirs.forall(d => new java.io.File(d, "_SUCCESS").exists()),
      s"a codec write did not commit: $dirs")
    val leftovers = dirs.filter(d => new java.io.File(d, "_temporary").exists())
    assert(leftovers.isEmpty, s"uncommitted writes left behind: $leftovers")
  }

  test("asof struct pairing survives a NULL-valued right row (both directions)") {
    // ADVICE r11: the struct-pairing fix (asof_event and asof_value must
    // come from the SAME right row) was unguarded — the fixture never
    // plants a NULL purchase value, so the pre-fix two-window form also
    // passed. This plants one: a NULL-valued purchase BETWEEN two valued
    // ones; pairing the event from the null row with the value of a
    // different row is exactly the regression this pins down.
    import org.apache.spark.sql.functions._
    val dir = tempDir("asof_null")
    val rows = Seq(
      (1L, 1L, "purchase", "2026-01-01 10:00:00", Option(5.0)),
      (2L, 1L, "purchase", "2026-01-01 10:10:00", Option.empty[Double]),
      (3L, 1L, "click", "2026-01-01 10:15:00", Option(0.0)),
      (4L, 1L, "purchase", "2026-01-01 10:20:00", Option(7.0)),
      (5L, 1L, "click", "2026-01-01 10:05:00", Option(0.0)),
      (6L, 1L, "click", "2026-01-01 10:08:00", Option(0.0)))
    spark.createDataFrame(rows)
      .toDF("event_id", "user_id", "event_type", "ts_s", "value")
      .withColumn("ts", to_timestamp(col("ts_s"))).drop("ts_s")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    def run(q: String): Map[Long, (Any, Any)] =
      SparkEntry.queries(q)(spark, dir).collect()
        .map(r => r.getLong(0) -> ((r.get(2), r.get(3)))).toMap
    val back = run("join_asof")
    assert(back(3L) == ((2L, null)),
      s"backward must pair the null-valued purchase with a null value: $back")
    assert(back(5L) == ((1L, 5.0)) && back(6L) == ((1L, 5.0)), s"$back")
    val fwd = run("join_asof_forward")
    assert(fwd(5L) == ((2L, null)) && fwd(6L) == ((2L, null)),
      s"forward must pair the null-valued purchase with a null value: $fwd")
    assert(fwd(3L) == ((4L, 7.0)), s"$fwd")
  }

  test("agg_weighted_median equals a local exact recompute") {
    import org.apache.spark.sql.functions._
    val rows = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_returnflag"), col("l_extendedprice"), col("l_quantity"))
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val want = rows.groupBy(_._1).map { case (k, g) =>
      val sorted = g.sortBy(_._2)
      val tot = g.map(e => BigDecimal(e._3).setScale(2)).sum
      var cum = BigDecimal(0)
      val med = sorted.find { e =>
        cum += BigDecimal(e._3).setScale(2); cum * 2 >= tot
      }.get._2
      k -> med
    }
    val got = SparkEntry.queries("agg_weighted_median")(spark, sfDir)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got == want, s"got=$got want=$want")
  }

  test("events_anomaly matches a local exact 3-sigma recompute") {
    import org.apache.spark.sql.functions._
    val rows = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), unix_micros(col("ts")),
        col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    def d2(v: Double): BigDecimal =
      BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)
    val want = rows.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      val sorted = g.sortBy(e => (e._3, e._1))
      sorted.zipWithIndex.toSeq.map { case ((id, _, _, v), i) =>
        val hist = sorted.slice(math.max(0, i - 20), i).map(e => d2(e._4))
        val n = hist.length
        val flag = n == 20 && {
          val s1 = hist.sum
          val s2 = hist.map(x => x * x).sum
          val dev = BigDecimal(n) * d2(v) - s1
          dev * dev > BigDecimal(9) * (BigDecimal(n) * s2 - s1 * s1)
        }
        id -> ((n, flag))
      }
    }.toMap
    val got = SparkEntry.queries("events_anomaly")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getBoolean(4)))).toMap
    assert(got == want, "anomaly verdicts diverged from the local recompute")
    assert(got.values.exists(_._2) || rows.length < 5000,
      "full-history windows should flag some 3-sigma events at sf>=0.01")
  }

  test("events_pattern matches a local sequence recompute; negation non-vacuous") {
    import org.apache.spark.sql.functions._
    val rows = Tables.load(spark, sfDir, "events")
      .filter(col("event_type").isin("view", "purchase", "error"))
      .select(col("user_id"), unix_micros(col("ts")), col("event_id"),
        col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val horizon = 24L * 3600 * 1000000L
    val want = rows.groupBy(_._1).toSeq.flatMap { case (_, g) =>
      val sorted = g.sortBy(e => (e._2, e._3))
      sorted.zipWithIndex.toSeq.collect { case ((_, us, id, "view"), i) =>
        val after = sorted.drop(i + 1)
        val p = after.find(_._4 == "purchase")
        val e = after.find(_._4 == "error")
        val conv = p.exists(pp => pp._2 - us <= horizon)
        val clean = conv && e.forall(ee => ee._2 >= p.get._2)
        id -> ((p.map(_._3), conv, clean))
      }
    }.toMap
    val got = SparkEntry.queries("events_pattern")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((Option(r.get(2)).map(_.asInstanceOf[Long]),
        r.getBoolean(4), r.getBoolean(5)))).toMap
    assert(got == want, "pattern verdicts diverged from the local recompute")
    if (rows.length > 3000)
      assert(got.values.exists(v => v._2 && !v._3),
        "the error-between negation should fire at sf>=0.01")
  }

  test("agg_skew_kurt matches Spark's native skewness/kurtosis") {
    import org.apache.spark.sql.functions._
    val native = Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(skewness(col("l_quantity")).as("sk"),
        kurtosis(col("l_quantity")).as("ku"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    val got = SparkEntry.queries("agg_skew_kurt")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(got.keySet == native.keySet)
    for ((k, (sk, ku)) <- got) {
      val (ns, nk) = native(k)
      assert(math.abs(sk - ns) < 1e-5, s"skew $k: $sk vs $ns")
      assert(math.abs(ku - nk) < 1e-5, s"kurt $k: $ku vs $nk")
    }
  }

  test("agg_regression matches Spark's native regr_* family") {
    // the decimal-moment closed forms must agree with the built-in
    // least-squares aggregates to rounding precision — an algebra slip
    // in the moment formulas would diverge immediately
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, sfDir, "lineitem")
    val native = li.groupBy(col("l_returnflag"))
      .agg(expr("regr_slope(l_extendedprice, l_quantity)").as("s"),
        expr("regr_intercept(l_extendedprice, l_quantity)").as("i"),
        expr("regr_r2(l_extendedprice, l_quantity)").as("r"))
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    val got = SparkEntry.queries("agg_regression")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet == native.keySet)
    for ((k, (s, i, r)) <- got) {
      val (ns, ni, nr) = native(k)
      assert(math.abs(s - ns) < 1e-4, s"slope $k: $s vs $ns")
      assert(math.abs(i - ni) < 1e-2, s"intercept $k: $i vs $ni")
      assert(math.abs(r - nr) < 1e-4, s"r2 $k: $r vs $nr")
    }
  }

  test("join_asof_nearest: every match is the true minimum-gap purchase") {
    import org.apache.spark.sql.functions._
    val ev = streaming.Streaming.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val purchByUser = ev.filter(_._4 == "purchase").groupBy(_._1)
    val df = SparkEntry.queries("join_asof_nearest")(spark, sfDir)
    val got = df.collect().map(r => (r.getLong(0),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(4)) -1L else r.getLong(4)))
    val clickUs = ev.filter(_._4 == "click").map(e => e._3 -> (e._1, e._2)).toMap
    assert(got.nonEmpty)
    for ((cid, nearest, gap) <- got) {
      val (user, cus) = clickUs(cid)
      val ps = purchByUser.getOrElse(user, Array.empty)
      if (ps.isEmpty) assert(nearest == -1L, s"click $cid: match without purchases")
      else {
        val minGap = ps.map(p => math.abs(p._2 - cus)).min
        assert(gap == minGap, s"click $cid: gap $gap, true min $minGap")
        assert(ps.exists(p => p._3 == nearest && math.abs(p._2 - cus) == minGap),
          s"click $cid matched a non-minimal purchase")
      }
    }
    // single union + window — a clicks x purchases join would be the
    // quadratic formulation this row exists to avoid
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"nearest as-of must not join:\n$p")
  }

  test("join_asof_forward: first at-or-after match, brute-checked, join-free") {
    import org.apache.spark.sql.functions._
    val ev = streaming.Streaming.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val purchByUser = ev.filter(_._4 == "purchase").groupBy(_._1)
    val clickUs = ev.filter(_._4 == "click").map(e => e._3 -> (e._1, e._2)).toMap
    val df = SparkEntry.queries("join_asof_forward")(spark, sfDir)
    val got = df.collect().map(r =>
      (r.getLong(0), if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(got.nonEmpty)
    var matched = 0
    for ((cid, fwd) <- got) {
      val (user, cus) = clickUs(cid)
      val cand = purchByUser.getOrElse(user, Array.empty)
        .filter(_._2 >= cus) // at-or-after: exact matches admitted
      if (cand.isEmpty) assert(fwd == -1L, s"click $cid: phantom forward match")
      else {
        // earliest ts, then smallest event id — the deterministic pick
        val want = cand.minBy(p => (p._2, p._3))._3
        assert(fwd == want, s"click $cid: got $fwd want $want")
        matched += 1
      }
    }
    assert(matched > 0, "fixture must contain forward matches")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"forward as-of must not join:\n$p")
  }

  test("join_asof_tolerance: bounded staleness, every verdict brute-checked") {
    import org.apache.spark.sql.functions._
    val tolUs = 15L * 60 * 1000000
    val ev = streaming.Streaming.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val purchByUser = ev.filter(_._4 == "purchase").groupBy(_._1)
    val clickUs = ev.filter(_._4 == "click").map(e => e._3 -> (e._1, e._2)).toMap
    val df = SparkEntry.queries("join_asof_tolerance")(spark, sfDir)
    val got = df.collect().map(r => (r.getLong(0),
      if (r.isNullAt(2)) -1L else r.getLong(2),
      if (r.isNullAt(3)) -1L else r.getLong(3)))
    assert(got.length == clickUs.size, "one output row per click")
    var matched = 0
    var prunedByTol = 0
    for ((cid, asof, gap) <- got) {
      val (user, cus) = clickUs(cid)
      val cands = purchByUser.getOrElse(user, Array.empty)
        .filter(p => p._2 <= cus)
      val inTol = cands.filter(p => cus - p._2 <= tolUs)
      if (inTol.isEmpty) {
        assert(asof == -1L, s"click $cid matched beyond tolerance")
        if (cands.nonEmpty) prunedByTol += 1
      } else {
        matched += 1
        // nearest backward candidate, ties to the larger event id
        val best = inTol.maxBy(p => (p._2, p._3))
        assert(asof == best._3 && gap == cus - best._2,
          s"click $cid: got ($asof,$gap), want (${best._3},${cus - best._2})")
      }
    }
    assert(matched > 0, "tolerance must admit some matches")
    // the bound must do real work: some clicks have a backward candidate
    // that is too stale — otherwise this row is join_asof with extra steps
    assert(prunedByTol > 0, "no click was pruned by the staleness bound")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"bounded as-of must not join:\n$p")
  }

  test("emb_quantize_int8 equals a local float->double->floor replay; map-only") {
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val want = vecs.map { case (id, v) =>
      val d = v.map(_.toDouble)
      val ma = d.map(math.abs).max
      val q = if (ma == 0) d.map(_ => 0L)
              else d.map(x => math.floor(x * 127.0 / ma).toLong)
      id -> ((d.length, q.sum, q.min.toInt, q.max.toInt,
        q.count(x => math.abs(x) == 127)))
    }.toMap
    val df = SparkEntry.queries("emb_quantize_int8")(spark, sfDir)
    val got = df.collect().map(r => r.getLong(0) ->
      ((r.getInt(1), r.getLong(2), r.getInt(3), r.getInt(4), r.getInt(5))))
      .toMap
    assert(got == want)
    // symmetric max-abs scaling saturates the max element by construction,
    // and nothing may leave the int8 lattice
    assert(got.values.forall(v => v._5 >= 1 && v._3 >= -127 && v._4 <= 127))
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"quantization must be map-only (presentation sort excepted):\n$p")
  }

  test("events_attribution equals a per-user local replay") {
    import org.apache.spark.sql.functions._
    val ev = streaming.Streaming.events(spark, sfDir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"), unix_micros(col("ts")).as("us"),
        col("event_id"), col("event_type"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
        r.getDouble(4)))
    val lookback = 7L * 24 * 3600 * 1000000L
    case class Acc(n: Long = 0, v: BigDecimal = 0, users: Set[Long] = Set(),
                   lag: Long = 0, clicks: Long = 0)
    val acc = collection.mutable.Map(true -> Acc(), false -> Acc())
    for ((_, evs) <- ev.groupBy(_._1)) {
      var lastClick: Option[(Long, Long)] = None // (us, event_id)
      for (e <- evs.sortBy(x => (x._2, x._3))) e._4 match {
        case "click" => lastClick = Some((e._2, e._3))
        case _ =>
          val att = lastClick.exists(c => e._2 - c._1 <= lookback)
          val a = acc(att)
          acc(att) = Acc(a.n + 1,
            a.v + BigDecimal(e._5).setScale(2, BigDecimal.RoundingMode.HALF_UP),
            a.users + e._1,
            a.lag + (if (att) e._2 - lastClick.get._1 else 0L),
            a.clicks + (if (att) lastClick.get._2 else 0L))
      }
    }
    val df = SparkEntry.queries("events_attribution")(spark, sfDir)
    val got = df.collect().map(r => r.getBoolean(0) ->
      ((r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4),
        r.getLong(5)))).toMap
    assert(got.size == 2, "both attributed and organic groups must exist")
    for ((att, a) <- acc if a.n > 0) {
      val (n, v, nu, lag, cl) = got(att)
      assert(n == a.n && nu == a.users.size.toLong &&
        lag == a.lag && cl == a.clicks,
        s"$att: got ($n,$nu,$lag,$cl) want (${a.n},${a.users.size},${a.lag},${a.clicks})")
      assert(math.abs(v - a.v.toDouble) < 1e-6, s"$att: $v vs ${a.v}")
    }
    // one window + one aggregate, no join of clicks x purchases
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"attribution must not join:\n$p")
  }

  test("approx_count_distinct (HLL++ sketch) lands within 5% of exact") {
    // the reference has no sketches at all (SURVEY §2.4/§2.8 list HLL as
    // absent); Spark's HLL++ is the 100 TB path for distinct counts —
    // bound it against the exact expand-based count
    import org.apache.spark.sql.functions._
    val r = Tables.load(spark, sfDir, "lineitem")
      .agg(countDistinct(col("l_partkey")).as("exact"),
           approx_count_distinct(col("l_partkey")).as("approx"))
      .collect()(0)
    val exact = r.getLong(0).toDouble
    assert(exact > 0)
    assert(math.abs(r.getLong(1) - exact) / exact <= 0.05,
      s"HLL estimate ${r.getLong(1)} too far from exact ${r.getLong(0)}")
  }

  test("approx_percentile (KLL-style sketch) respects its rank-error contract") {
    // the other constant-memory sketch a 100 TB aggregation needs: with
    // accuracy parameter B the rank error is bounded by n/B, so the value
    // returned for q=0.5 must sit between the exact quantiles at
    // 0.5 +- n/B ranks (checked via the exact percentile at those ranks)
    import org.apache.spark.sql.functions._
    val acc = 100 // deliberately coarse so the bound is actually exercised
    val eps = 1.0 / acc
    val r = Tables.load(spark, sfDir, "orders")
      .agg(
        expr(s"approx_percentile(o_totalprice, 0.5, $acc)").as("approx"),
        expr(s"percentile(o_totalprice, ${0.5 - eps})").as("lo"),
        expr(s"percentile(o_totalprice, ${0.5 + eps})").as("hi"))
      .collect()(0)
    val (approx, lo, hi) = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
    assert(lo <= approx && approx <= hi,
      s"approx median $approx outside rank-error band [$lo, $hi]")
  }

  test("pack_shards balances token totals across all shards (sf0.01)") {
    // the LPT-stripe guarantee: per-group imbalance <= one max-doc, 16
    // groups -> spread bounded by 16 max-docs; at 500 docs that should
    // already keep shard token totals within ~1.5x of each other, and
    // every shard must be populated
    val rows = operators.TextAnalysis.queries("pack_shards")(
      spark, "/root/testdata/sf0.01").collect()
    assert(rows.length == 8, s"expected 8 shards, got ${rows.length}")
    val toks = rows.map(_.getAs[Long]("sum_tokens"))
    assert(toks.min > 0)
    assert(toks.max.toDouble / toks.min <= 1.5,
      s"shard token spread too wide: ${toks.mkString(",")}")
  }

  test("z-order layout prunes most of a 2-D box scan; random layout prunes nothing") {
    // the point of the z-order layout: parquet min/max stats per file/row
    // group become tight 2-D boxes, so a conjunctive range query reads a
    // fraction of the data — vs an unclustered copy of the SAME rows
    // where every file spans the full range and nothing can be skipped
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.functions._
    // shuffle-free probe shape: scan+filter only, so the scan node is not
    // hidden inside an AQE query stage and its metric is reachable
    def scannedRows(df: DataFrame): Long = {
      df.collect()
      val root = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      root.collect { case f: FileSourceScanExec =>
        f.metrics("numOutputRows").value }.sum
    }
    def box(df: DataFrame): DataFrame =
      df.filter(col("user_id").between(2, 5) && col("value").between(50, 120))
        .select(col("event_id"))
    val zDf = box(spark.read.parquet(
      operators.Relational.zorderedEventsDir(spark, sfDir)))
    val base = SparkTestSession.tempDir("graft_zorder_ctl")
    streaming.Streaming.events(spark, sfDir)
      .repartition(32).write.mode("overwrite").parquet(s"$base/events_rand")
    val ctl = box(spark.read.parquet(s"$base/events_rand"))
    val (zRows, ctlRows) = (scannedRows(zDf), scannedRows(ctl))
    assert(zDf.collect().map(_.getLong(0)).sorted.toSeq ==
           ctl.collect().map(_.getLong(0)).sorted.toSeq,
      "z-ordered copy lost or changed rows")
    assert(ctlRows > 0 && zRows > 0)
    assert(zRows * 2 <= ctlRows,
      s"z-order scanned $zRows rows, random layout scanned $ctlRows — no skipping win")
  }

  test("sessionize_batch plan: lag and running-sum share one window sort") {
    // the scale contract: ONE shuffle of raw events (hashpartitioning on
    // user_id for the shared window sort); the later groupBy exchange
    // moves only map-side session partials, never raw events
    val df = operators.Relational.queries("sessionize_batch")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges <= 2, s"expected <=2 hash exchanges, got $exchanges:\n$plan")
    val windowSorts = "\\[user_id.* ASC NULLS FIRST, ts".r.findAllIn(plan).size
    assert("Window".r.findAllIn(plan).size >= 1, s"no Window node:\n$plan")
    assert(windowSorts <= 1,
      s"lag and running-sum did not share one (user_id, ts) sort:\n$plan")
  }

  test("join_salted plan: shuffled equi-join on (key, salt), no broadcast of the fact side") {
    val df = operators.Relational.queries("join_salted")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("salt"), s"salt key absent from join plan:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
           !plan.contains("BroadcastNestedLoopJoin"),
      s"salted join degenerated to a non-equi join:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the runtime-filter tier for joins too big to broadcast: Catalyst
    // builds a bloom filter from the selective (filtered) dim side and
    // injects a might_contain probe on the fact side BELOW its shuffle —
    // at 100 TB this is the difference between shuffling the whole fact
    // table and shuffling only the slice that can possibly match
    import org.apache.spark.sql.functions._
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64MB")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.load(spark, sfDir, "lineitem")
      val sel = Tables.load(spark, sfDir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no bloom runtime filter injected; optimized plan:\n$plan")
      // and the filtered join still returns exactly the unfiltered count
      val n = joined.collect()(0).getLong(0)
      val expected = li.join(
          Tables.load(spark, sfDir, "orders")
            .filter(col("o_orderpriority") === "1-URGENT").hint("broadcast"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(n == expected, s"bloom-filtered join count $n != $expected")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("freqItems (lossy counting) returns every truly frequent item") {
    // third constant-memory sketch beside HLL and approx_percentile:
    // single-pass heavy hitters. The lossy-counting contract is
    // superset-of-frequent (false positives possible, false negatives
    // not) — assert exactly that against the exact frequency table
    import org.apache.spark.sql.functions._
    val li = Tables.load(spark, sfDir, "lineitem")
    val support = 0.1
    val total = li.count()
    val exactFrequent = li.groupBy(col("l_returnflag")).count()
      .filter(col("count") > total * support)
      .collect().map(_.getString(0)).toSet
    assert(exactFrequent.nonEmpty) // fixture sanity: flags are ~30% each
    val sketched = li.stat.freqItems(Array("l_returnflag"), support)
      .collect()(0).getSeq[String](0).toSet
    assert(exactFrequent.subsetOf(sketched),
      s"lossy counting missed ${exactFrequent -- sketched}")
  }

  test("SessionContext ORC and JSON sinks round-trip losslessly") {
    import graft.context.{Compression, SessionContext}
    val ctx = new SessionContext(spark)
    val src = Tables.load(spark, sfDir, "nation")
    val base = SparkTestSession.tempDir("graft_ctx_rt")
    ctx.writeOrc(src, s"$base/nation_orc", Compression.Zstd)
    ctx.writeJson(src, s"$base/nation_json")
    ctx.registerOrc("nation_orc_rt", s"$base/nation_orc")
    ctx.registerJson("nation_json_rt", s"$base/nation_json")
    val want = src.collect().map(_.toSeq.toList).sortBy(_.toString).toList
    val orc = ctx.table("nation_orc_rt")
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList
    // JSON column order is alphabetized on read; realign to source schema
    val json = ctx.table("nation_json_rt")
      .select(src.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList
    assert(orc == want, "ORC round-trip diverged")
    assert(json == want, "JSON round-trip diverged")
  }

  test("left and right join agree mirrored") {
    val l = operators.Relational.queries("join_left")(spark, sfDir).collect()
    val r = operators.Relational.queries("join_right")(spark, sfDir).collect()
    assert(l.map(_.toSeq.toList).sortBy(_.toString).toList ==
           r.map(_.toSeq.toList).sortBy(_.toString).toList)
  }

  test("union_all count equals sum of branch counts") {
    val rows = operators.Relational.queries("set_union_all")(spark, sfDir).collect()
    val n = rows.head.getAs[Long]("n")
    val nd = rows.head.getAs[Long]("n_distinct")
    assert(n > nd) // overlap exists by construction (nationkey<5 ⊂ <10)
  }

  test("scd2_history intervals are contiguous, alternating, one open per user") {
    // the structural SCD-2 contract the value-level oracle can't state:
    // versions are 1..k gap-free, consecutive versions never share a
    // state (else the island collapse failed), each valid_to equals the
    // NEXT version's valid_from (half-open tiling, no gaps/overlaps),
    // and exactly the last version per user is open (NULL valid_to)
    val rows = operators.Relational.queries("scd2_history")(spark, sfDir)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), if (r.isNullAt(4)) null else r.getTimestamp(4)))
      .groupBy(_._1)
    assert(rows.nonEmpty)
    for ((u, vs0) <- rows) {
      val vs = vs0.sortBy(_._2)
      assert(vs.map(_._2).toList == (1L to vs.length).toList,
        s"user $u versions not contiguous")
      for (w <- vs.sliding(2) if w.length == 2) {
        val (a, b) = (w(0), w(1))
        assert(a._3 != b._3, s"user $u consecutive versions share state")
        assert(a._5 == b._4, s"user $u interval tiling broken")
      }
      assert(vs.count(_._5 == null) == 1 && vs.last._5 == null,
        s"user $u must have exactly the final version open")
    }
  }

  test("ts_resample buckets are 15-minute aligned and partition the events") {
    val rows = operators.Relational.queries("ts_resample")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val us = r.getTimestamp(0).getTime * 1000L +
        (r.getTimestamp(0).getNanos / 1000) % 1000
      assert(us % 900000000L == 0, s"bucket ${r.getTimestamp(0)} unaligned")
    }
    val total = graft.streaming.Streaming.events(spark, sfDir).count()
    assert(rows.map(_.getAs[Long]("n")).sum == total,
      "bucket counts must partition the event set")
  }

  test("events_seq_pairs contexts are always exactly the 3-event window") {
    val rows = operators.Relational.queries("events_seq_pairs")(spark, sfDir)
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(2).split('|').length == 3),
      "every emitted pair must carry a FULL 3-event context")
  }

  test("quality_expectations is non-vacuous: both verdicts occur, dup rule cross-checks") {
    import org.apache.spark.sql.functions._
    val rows = operators.Relational.queries("quality_expectations")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(2), r.getBoolean(3)))
    val byRule = rows.map(r => r._1 -> r).toMap
    assert(rows.exists(_._3) && rows.exists(!_._3),
      "fixture must exercise BOTH pass and fail verdicts")
    for ((_, v, pass) <- rows) assert(pass == (v == 0L))
    val docs = Tables.load(spark, sfDir, "documents")
    val dup = docs.count() - docs.select(col("doc_id")).distinct().count()
    assert(byRule("doc_id_unique")._2 == dup)
  }

  test("PERMISSIVE csv surfaces exactly the injected junk in _corrupt_record") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // run the row first (writes the csv dir + junk file and proves the
    // DROPMALFORMED side against its oracle elsewhere)
    operators.Relational.queries("scan_csv_malformed")(spark, sfDir).collect()
    // selecting _corrupt_record alongside the full schema forces a
    // whole-line parse — the quarantine side of the projection-scoped
    // malformedness contract documented on the row
    val base = Tables.load(spark, sfDir, "lineitem")
    val schema = StructType(base.schema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    val df = spark.read.schema(schema)
      .option("header", "false").option("delimiter", "|")
      .option("mode", "PERMISSIVE")
      .csv("/root/repo/target/scratch/lineitem_malformed_csv")
    df.cache()
    val corrupt = df.filter(col("_corrupt_record").isNotNull).count()
    val clean = df.filter(col("_corrupt_record").isNull).count()
    df.unpersist()
    assert(corrupt == operators.Relational.MalformedLines.size.toLong,
      s"expected every junk line quarantined, got $corrupt")
    assert(clean == base.count(), "all well-formed rows must survive")
  }

  test("PERMISSIVE json surfaces exactly the injected junk in _corrupt_record") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // run the row first (writes the ndjson dir + junk file and proves the
    // DROPMALFORMED side against its oracle elsewhere)
    operators.Relational.queries("scan_json_malformed")(spark, sfDir).collect()
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val schema = StructType(base.schema.fields :+
      StructField("_corrupt_record", StringType, nullable = true))
    val df = spark.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .json("/root/repo/target/scratch/documents_malformed_json")
    df.cache()
    val corrupt = df.filter(col("_corrupt_record").isNotNull).count()
    val clean = df.filter(col("_corrupt_record").isNull).count()
    df.unpersist()
    assert(corrupt == operators.Relational.MalformedJsonLines.size.toLong,
      s"expected every junk line quarantined, got $corrupt")
    assert(clean == base.count(), "all well-formed records must survive")
  }

  test("layout_compact shrinks the file count to the byte-derived target") {
    // the operational claim the content oracle can't see: 64 fragment
    // files come back as ceil(bytes/8MiB) compacted files
    operators.Relational.queries("layout_compact")(spark, sfDir).collect()
    def parquets(dir: String) = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    val smallDir = "/root/repo/target/scratch/compact_small"
    val nSmall = parquets(smallDir)
    val nOut = parquets("/root/repo/target/scratch/compact_out")
    assert(nSmall == 64, s"fragmentation stage wrote $nSmall files")
    assert(nOut ==
      operators.Relational.layoutCompactTarget(smallDir, 8L * 1024 * 1024),
      "compacted file count must equal the byte-derived target")
    assert(nOut < nSmall, "compaction must reduce the file count")
  }
}

/** Plan-shape assertions — the SURVEY §5 layer (b): the optimizations we
  * rely on at 100 TB (pushdown, pruning, partial aggregation, broadcast
  * joins) must be visible in the physical plan, not assumed.
  */
class PlanSpec extends AnyFunSuite {
  import SparkTestSession._

  private def planOf(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.queryExecution.executedPlan.toString
  }

  test("parquet scan gets filter pushdown and column pruning") {
    val p = planOf("scan_parquet")
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,45"),
           s"no pushed filter in:\n$p")
    // projection pruning: scan must not read all 11 lineitem columns
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_returnflag:string>")
      || p.contains("ReadSchema: struct<l_extendedprice:double,l_quantity:double,l_returnflag:string>")
      || p.contains("ReadSchema: struct<l_returnflag:string,l_quantity:double,l_extendedprice:double>"),
      s"scan not pruned to 3 columns:\n$p")
  }

  test("aggregation is two-phase partial/final") {
    val p = planOf("agg_basic")
    assert(p.contains("HashAggregate"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"expected partial+final HashAggregate:\n$p")
  }

  test("text_chunk is one map-only pass: no exchange below the presentation sort") {
    val p = planOf("text_chunk")
    // exactly the sort's range exchange — chunking itself (tokenize →
    // sequence/explode → slice) must not shuffle anything
    assert("Exchange".r.findAllIn(p).size == 1,
      s"chunking pass shuffles beyond the presentation sort:\n$p")
    assert(p.contains("rangepartitioning"),
      s"the single exchange must be the presentation sort's:\n$p")
    assert(p.contains("Generate explode"), s"no explode fan-out in:\n$p")
  }

  test("pipeline_rag retrieves via TakeOrdered, never a global corpus sort") {
    val p = planOf("pipeline_rag")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k not TakeOrdered:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    // the corpus-wide BM25 stats frame joins broadcast (1 row)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"stats frame not broadcast:\n$p")
  }

  test("pipeline_rag_batch limits per query via WindowGroupLimit, stats broadcast") {
    // the batch row's scale contract: the rank <= k filter must plan as
    // WindowGroupLimit so each map partition keeps only its own top-k
    // per query BEFORE the query_id exchange — the alternative ships the
    // full |batch|x|chunks| fan-out through the shuffle
    val p = planOf("pipeline_rag_batch")
    assert(p.contains("WindowGroupLimit"), s"rank filter not group-limited:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    // the corpus-wide stats frame joins broadcast (1 row)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), s"stats frame not broadcast:\n$p")
  }

  test("pipeline_semdedup pairs within clusters via an equi-join, never a cartesian") {
    // the SemDeDup contract: clustering BOUNDS the candidate set — the
    // pair stage must be an equi-join on the cluster key, and the full
    // funnel frame must stay cartesian-free
    val corpus = operators.Similarity.lshCorpus(spark, sfDir)
    val (_, dropped, release) =
      operators.Similarity.semdedupDroppedReleasable(corpus)
    try {
      dropped.write.format("noop").mode("overwrite").save()
      val p = dropped.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"cartesian pair stage:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"),
        s"non-equi pair join:\n$p")
    } finally release()
    val funnel = SparkEntry.queries("pipeline_semdedup")(spark, sfDir)
    funnel.write.format("noop").mode("overwrite").save()
    val fp = funnel.queryExecution.executedPlan.toString
    assert(!fp.contains("CartesianProduct"), s"cartesian in funnel:\n$fp")
    Caches.releaseAll(spark)
  }

  test("graph_components thresholds via a broadcast stats frame, not a global window") {
    // assert on the edge derivation directly: the edges are consumed
    // inside connectedComponents' checkpoint loop, so the final frame's
    // plan no longer shows the threshold join
    // releasable form: the wrapper that discarded the release thunk left
    // the support-aggregate cache persisted for the rest of the session
    // (ADVICE r15) — release it once the plan is finalized
    val (df, release) = operators.Graph.coPurchaseEdgesReleasable(spark, sfDir)
    val p = try {
      df.write.format("noop").mode("overwrite").save()
      df.queryExecution.executedPlan.toString
    } finally release()
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    // the mean-support threshold must not be an unpartitioned window
    // (single-partition funnel on the corpus-scale pair set)
    assert(!p.contains("Window"),
      s"global window over the pair set:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"mean threshold not a 1-row broadcast join:\n$p")
  }

  test("unigram apply joins the corpus word stream broadcast, never shuffled") {
    // the 100 TB contract of the apply row: the corpus side map-side
    // joins the vocab-sized word->n_tok table; a sort-merge join here
    // would shuffle every corpus word occurrence on a string key
    val df = SparkEntry.queries("text_unigram_apply")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus word stream must not sort-merge:\n$p")
  }

  test("small-dimension joins broadcast (tpch_q5 chain)") {
    val p = planOf("tpch_q5")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join in q5:\n$p")
  }

  test("hash repartition produces hashpartitioning exchange") {
    val p = planOf("repartition_hash")
    assert(p.contains("hashpartitioning(l_suppkey"), p)
  }

  test("embedding top-k pairs is a block equi-join, not a cartesian") {
    val p = planOf("dedup_embedding_cos")
    assert(!p.contains("CartesianProduct"), s"cartesian product in plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop join in plan:\n$p")
    // the trailing top-20 must collapse to per-partition top-k
    assert(p.contains("TakeOrderedAndProject"), s"no TakeOrderedAndProject:\n$p")
  }

  test("dedup_keep anti-joins without shuffling the corpus") {
    // the dropped set is duplicate-sized, so the survivors filter must be
    // a broadcast LeftAnti against the corpus scan — a hashpartitioning
    // exchange on doc_id would mean the whole corpus shuffles at 100 TB
    val p = planOf("dedup_keep")
    assert(p.contains("LeftAnti"), s"no anti-join in plan:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"dropped set not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffles for the anti-join:\n$p")
    Caches.releaseAll(spark)
  }

  test("ivf probed-cell scan is partition-pruned") {
    val p = planOf("ann_ivf_topk")
    assert(p.contains("PartitionFilters: [cell"),
      s"probed-cell filter not pushed to partition pruning:\n$p")
  }

  test("as-of and range joins avoid nested-loop/cartesian plans") {
    // both are non-equi joins by semantics; the implementations must
    // reformulate them (union+window / bucket-explode equi-join) so no
    // per-key nested loop appears — the difference between linear and
    // quadratic at 100 TB
    for (q <- Seq("join_asof", "join_range")) {
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q planned a cartesian:\n$p")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q planned a nested loop:\n$p")
    }
    assert(planOf("join_asof").contains("Window"), "as-of lost its window form")
    assert(planOf("join_range").contains("SortMergeJoin") ||
           planOf("join_range").contains("ShuffledHashJoin") ||
           planOf("join_range").contains("BroadcastHashJoin"),
      "range join is not an equi-join")
  }

  test("bucketed join is co-located: no exchange on the join keys") {
    // broadcast disabled so the plan can't sidestep the question: both
    // sides must come out of the bucketed layout with no hashpartitioning
    // exchange on the join keys
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("join_bucketed")(spark, sfDir)
      df.collect()
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"expected a shuffle-free SMJ:\n$p")
      assert(!p.contains("Exchange hashpartitioning(o_custkey") &&
             !p.contains("Exchange hashpartitioning(c_custkey"),
        s"join keys were shuffled — bucketed layout unused:\n$p")
      assert(p.contains("SelectedBucketsCount"), s"scan not bucketed:\n$p")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
      case None => spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("text_lm_score: equi-joined LM, two-phase counts, no cartesian") {
    val p = planOf("text_lm_score")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
      s"LM scoring must stay equi-joined:\n$p")
    // c12, c1, and the per-doc rollup are each partial+final
    assert("HashAggregate".r.findAllIn(p).size >= 6,
      s"expected three two-phase aggregates:\n$p")
  }

  test("text_lm_buckets: percentile cuts broadcast, no global rank window") {
    // the head/middle/tail carve must come from the 1-row percentile
    // aggregate broadcast back onto the scored corpus — an ntile/rank
    // formulation would funnel the corpus through one sorted partition
    val p = planOf("text_lm_buckets")
    assert(!p.contains("Window"), s"global rank window in the carve:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"),
      s"boundaries not broadcast:\n$p")
  }

  test("emb_pca_power: map-only Gram accumulation, broadcast matvecs") {
    // the corpus pass is explode -> two-phase hash aggregate (<= dim^2
    // rows per partition cross the exchange); the dim^2/dim-sized
    // G/v1/v2 frames join by broadcast — the corpus itself must never
    // sort-merge or cartesian
    // the ROW reads the build-once component table (the IVF lifecycle),
    // so the plan under audit is the BUILD chain itself
    val p = operators.Similarity.pcaV2(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortMergeJoin"), s"metadata join shuffled:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"matvec not broadcast:\n$p")
    assert(p.contains("Generate"), s"no map-side explode for Sq:\n$p")
    Caches.releaseAll(spark)
  }

  test("events_anomaly: one user-key exchange, no join") {
    // the verdict is a windowed projection — any join or second
    // exchange would mean the trailing frame was reformulated as a
    // self-join (quadratic per user)
    val p = planOf("events_anomaly")
    assert(!p.contains("Join"), s"anomaly must stay join-free:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the user-key exchange:\n$p")
  }

  test("events_pattern: join-free tagged stream, one per-user sort") {
    val p = planOf("events_pattern")
    assert(!p.contains("Join"),
      s"pattern match must not become a views×purchases join:\n$p")
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
      s"expected exactly the user-key exchange:\n$p")
  }

  test("text_vocab_coverage: top-K vocab broadcasts onto the stream") {
    val p = planOf("text_vocab_coverage")
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the K-row vocab:\n$p")
  }

  test("window_islands: one exchange, one sort — the filter preserves the window order") {
    // the second row_number must ride the first window's sort; a plan
    // with two sorts or two exchanges means the filter broke the
    // ordering contract and the run re-shuffles the event stream
    val p = planOf("window_islands")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"expected exactly one user-key exchange:\n$p")
    // plan prints top-down: rn_hit's Window sits above the Filter above
    // rn_all's Window — that span must hold no Sort (and no exchange,
    // checked above; the only other Sort is the presentation orderBy)
    val span = p.substring(p.indexOf("AS rn_hit"), p.indexOf("AS rn_all"))
    assert(!span.contains("Sort "),
      s"second window must reuse the first sort:\n$p")
    assert(!p.contains("Join"), s"islands must stay join-free:\n$p")
  }

  test("pipeline_eval_harness: both scrub sides broadcast, no cartesian") {
    // the reverse-decontamination shape: the eval shingle set broadcasts
    // onto the streaming train complement, then the hit set broadcasts
    // back onto the candidate stream — if either join sort-merges, a
    // corpus-sized shingle stream just crossed an exchange
    val p = planOf("pipeline_eval_harness")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      s"scrub joins must broadcast the eval/hit sets:\n$p")
    Caches.releaseAll(spark)
  }

  test("window_islands equals a local run-detection replay") {
    val ev = graft.streaming.Streaming.events(spark, sfDir)
      .select("user_id", "event_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    val want = ev.groupBy(_._1).toSeq.flatMap { case (uid, rows) =>
      val sorted = rows.sortBy(r => (r._3.getTime, r._2))
      // maximal runs of consecutive value>=50 rows
      val runs = scala.collection.mutable.ArrayBuffer
        .empty[Vector[(Long, Long, java.sql.Timestamp, Double)]]
      var cur = Vector.empty[(Long, Long, java.sql.Timestamp, Double)]
      sorted.foreach { r =>
        if (r._4 >= 50.0) cur :+= r
        else { if (cur.nonEmpty) runs += cur; cur = Vector.empty }
      }
      if (cur.nonEmpty) runs += cur
      runs.map(run => (uid, run.head._3, run.last._3, run.length.toLong,
        run.map(_._4).max, run.map(_._2).min))
    }.sortBy(t => (t._1, t._2.getTime))
    val got = SparkEntry.queries("window_islands")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSeq
    assert(got == want, s"islands mismatch: got ${got.take(3)}…")
    assert(want.exists(_._4 >= 3), "fixture must contain a multi-event run")
    assert(want.size > ev.count(_._4 >= 50.0) / 2 || want.exists(_._4 >= 2),
      "runs must be non-trivial")
  }

  test("join_skew_aqe: runtime skew split fires under scaled-down thresholds; result invariant") {
    // at fixture scale the hot partition is under the 256 MB default
    // threshold, so prove the mechanism by scaling the confs to the
    // fixture: factor 1 + 8KB thresholds make the ~87%-hot partition
    // split, and the final adaptive plan must say so
    val base = SparkEntry.queries("join_skew_aqe")(spark, sfDir).collect()
    val keys = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "1")
      spark.conf.set(keys(1), "1KB")
      spark.conf.set(keys(2), "512b")
      val df = operators.Relational.skewJoinFrame(spark, sfDir)
      // execute THIS frame (a separate .count() would finalize its own
      // adaptive plan and leave df's un-executed at isFinalPlan=false)
      assert(df.collect().nonEmpty)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"no runtime skew split in:\n$p")
      val skewed = SparkEntry.queries("join_skew_aqe")(spark, sfDir).collect()
      assert(skewed.sameElements(base),
        "the skew split must not change results")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  test("sample_temperature: rate table broadcasts onto the corpus") {
    // the per-domain rate table is k rows by construction — the corpus
    // membership filter must receive it by broadcast, never by shuffling
    // the corpus on the domain key
    val p = planOf("sample_temperature")
    assert(p.contains("BroadcastHashJoin"), s"rates not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
  }

  test("cluster_kmeans: map-only assignment, broadcast sizes, no wide join") {
    // assignment is a projection against literal centroids — the only
    // joins in the whole plan are the k-row sizes broadcast; the corpus
    // must never sort-merge or cartesian, and the centroid-update
    // aggregate must partial-combine map-side
    val p = planOf("cluster_kmeans")
    assert(p.contains("BroadcastHashJoin"), s"sizes not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for a join:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in plan:\n$p")
    assert(p.contains("partial_count") || p.contains("HashAggregate"),
      s"no two-phase aggregate:\n$p")
    Caches.releaseAll(spark)
  }

  test("dedup_semantic: labels broadcast onto the corpus as a left join") {
    val p = planOf("dedup_semantic")
    assert(p.contains("BroadcastHashJoin"), s"labels not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffles for the duplicate-sized labels table:\n$p")
    Caches.releaseAll(spark)
  }

  test("partitioned sink read-back is partition-pruned") {
    val df = SparkEntry.queries("sink_partitioned")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") &&
      p.replaceAll("\\s+", " ").matches("(?s).*PartitionFilters: \\[[^\\]]*o_orderstatus.*"),
      s"status filter not pushed to partition pruning:\n$p")
  }

  test("dynamic partition pruning: dim filter reaches the fact scan at runtime") {
    // The 100 TB star-join staple: the fact side is partition-laid-out on
    // the join key, the dim side carries the selective filter, and the
    // runtime must turn the dim's build-side values into fact PARTITION
    // pruning (not a post-scan filter). useStats=false so the tiny
    // fixture's row counts can't talk the optimizer out of it.
    import org.apache.spark.sql.functions._
    val dir = SparkTestSession.tempDir("graft_dpp")
    Tables.load(spark, sfDir, "orders")
      .write.partitionBy("o_orderstatus").mode("overwrite")
      .parquet(s"$dir/fact")
    val saved = spark.conf.getOption(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats")
    spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = Tables.load(spark, sfDir, "orders")
        .select(col("o_orderstatus").as("status"),
          col("o_orderpriority").as("prio")).distinct()
        .filter(col("prio") === "1-URGENT")
      val joined = fact.join(dim, fact("o_orderstatus") === dim("status"))
      val n = joined.count()
      assert(n > 0, "fixture join came back empty")
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("dynamicpruning"),
        s"no dynamicpruningexpression in the fact scan's PartitionFilters:\n$p")
    } finally saved match {
      case Some(v) => spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", v)
      case None => spark.conf.unset(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats")
    }
  }

  test("resilience rows engage their machinery: DPP prunes, bloom injects, fallback caps") {
    // the four oracle-gated resilience_* rows (VERDICT r13 item 7) pin
    // VALUES at the driver gate; this spec pins that each row's child
    // session actually engages the degradation/pruning path it names —
    // a conf typo would otherwise leave a green row testing nothing
    val dpp = operators.Relational.queries("resilience_dpp_join")(spark, sfDir)
    dpp.collect()
    val pd = dpp.queryExecution.executedPlan.toString
    assert(pd.contains("dynamicpruning"),
      s"resilience_dpp_join scan carries no dynamicpruningexpression:\n$pd")
    val bloom = operators.Relational.queries("resilience_bloom_join")(spark, sfDir)
    val pb = bloom.queryExecution.optimizedPlan.toString
    assert(pb.contains("might_contain"),
      s"resilience_bloom_join injected no runtime bloom filter:\n$pb")
    val fb = operators.Relational.queries("resilience_agg_fallback")(spark, sfDir)
    assert(fb.sparkSession.conf.get(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "1",
      "fallback threshold not pinned on the row's child session")
    assert(fb.queryExecution.executedPlan.toString
        .contains("ObjectHashAggregate"),
      "resilience_agg_fallback is not an object-hash aggregate — the " +
      "fallback conf would gate nothing")
    // AQE runtime shuffle coalescing (the r14 verdict's last spec-only
    // resilience behavior, now a value-gated row): the child session's
    // deliberately-oversized 200-partition exchange must be folded down
    // at runtime — a finalized plan with no coalesced AQEShuffleRead
    // means the conf gated nothing and the green row would be vacuous
    val aqe = operators.Relational.queries("resilience_aqe_coalesce")(spark, sfDir)
    aqe.collect()
    assert(aqe.sparkSession.conf.get("spark.sql.shuffle.partitions") == "200",
      "oversized partition count not pinned on the row's child session")
    val pa = aqe.queryExecution.executedPlan.toString
    assert(pa.contains("AQEShuffleRead coalesced"),
      s"resilience_aqe_coalesce plan shows no runtime coalesce:\n$pa")
    // and none of the child-session confs leaked into the parent
    assert(spark.conf.getOption(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats").forall(_ == "true"))
    assert(spark.conf.get("spark.sql.autoBroadcastJoinThreshold") != "-1",
      "bloom row's broadcast-disable leaked into the shared session")
    assert(spark.conf.get("spark.sql.shuffle.partitions") != "200",
      "AQE-coalesce row's oversized partition count leaked into the shared session")
    Caches.releaseAll(spark)
  }

  test("AQE splits a deliberately skewed sort-merge join (skew=true)") {
    // At 100× scale, skew — not average throughput — is what kills the join
    // tier; prove the runtime mitigation actually engages: ~98% of lineitem
    // rows mapped to one hot key, broadcast disabled to force a shuffle
    // join, AQE skew thresholds scaled to the fixture. The finalized plan
    // must show the skewed partition split (skew=true on the join).
    import org.apache.spark.sql.functions._
    val tuned = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1KB")
    val saved = tuned.map { case (k, _) => k -> spark.conf.getOption(k) }
    tuned.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // many map tasks matter: AQE splits a skewed reduce partition at
      // map-output-block granularity, so a single-mapper input (one small
      // parquet file) can never be split — at real scale the scan has
      // thousands of mappers; emulate that here
      val hot = Tables.load(spark, sfDir, "lineitem")
        .repartition(16)
        .select(
          when(col("l_linenumber") % 50 === 0, col("l_orderkey") % 50)
            .otherwise(lit(0L)).as("k"),
          col("l_partkey"), col("l_suppkey"), col("l_quantity"),
          col("l_extendedprice"))
      val dim = spark.range(50).select(col("id").as("k"), (col("id") * 2).as("v"))
      // aggregate the payload columns too, so column pruning can't strip
      // them before the shuffle and shrink the hot partition under the
      // skew threshold
      val joined = hot.join(dim, Seq("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
          sum(col("l_quantity")).as("sq"), sum(col("l_extendedprice")).as("se"),
          sum(col("l_partkey")).as("sp"), sum(col("l_suppkey")).as("ss"))
      joined.collect() // finalize the adaptive plan
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE did not split the skewed join:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("whole-stage codegen covers the q1 aggregate") {
    val df = SparkEntry.queries("tpch_q1")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    // '*(n)' marks WholeStageCodegen spans in the finalized plan
    assert(p.contains("*("), s"q1 not codegen'd:\n$p")
  }

  test("bloom decontamination probe runs inside whole-stage codegen") {
    val df = SparkEntry.queries("text_decontaminate_bloom")(spark, sfDir)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    // the probe must appear as the native expression, not a UDF wrapper,
    // and its Filter must sit inside a WholeStageCodegen span ('*(n)')
    assert(p.contains("bloom_might_contain"), s"native probe missing:\n$p")
    assert(!p.contains("UDF"), s"probe still a UDF:\n$p")
    val probeLine = p.linesIterator
      .find(l => l.contains("Filter") && l.contains("bloom_might_contain"))
    assert(probeLine.exists(_.contains("*(")),
      s"bloom probe filter not codegen'd:\n$p")
  }

  test("schema evolution: mergeSchema unions per-partition parquet schemas") {
    import org.apache.spark.sql.functions.{col, lit}
    // a 100 TB table grows columns over its lifetime; new ingestion days
    // carry new fields and the old files must read back as NULLs — the
    // mergeSchema union is the contract that makes additive evolution safe
    val dir = SparkTestSession.tempDir("graft_evo")
    spark.range(5).select(col("id"), lit(1L).as("v_old"))
      .write.parquet(s"$dir/day=1")
    spark.range(5).select(col("id"), lit(2L).as("v_old"),
      lit(0.5).as("v_new")).write.parquet(s"$dir/day=2")
    val df = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(df.columns.toSet == Set("id", "v_old", "v_new", "day"))
    // pre-evolution files surface the new column as NULL, not an error
    assert(df.filter(col("day") === 1 && col("v_new").isNull).count() == 5)
    assert(df.filter(col("v_new").isNotNull).count() == 5)
  }

  test("observe() metrics ride the main job without a second scan") {
    import org.apache.spark.sql.functions._
    // the audit pattern a production pipeline attaches to every stage:
    // row counts and mass totals observed IN-FLIGHT on the same pass,
    // instead of a .count() that re-runs the whole lineage
    val obs = new org.apache.spark.sql.Observation("ingest_audit")
    val docs = Tables.load(spark, sfDir, "documents")
      .observe(obs, count(lit(1)).as("rows"),
        sum(col("n_chars")).as("chars"))
    val written = docs.filter(col("n_chars") > 0).count()
    assert(obs.get("rows").asInstanceOf[Long] >= written)
    assert(obs.get("chars").asInstanceOf[Long] ==
      Tables.load(spark, sfDir, "documents")
        .agg(sum(col("n_chars"))).collect()(0).getLong(0))
  }

  test("hash-agg fallback and input-split sizing change plans, never results") {
    import org.apache.spark.sql.functions._
    // spill-awareness contract: when per-group state outgrows memory the
    // aggregate must degrade to the sort-based path with identical
    // results — force the fallback at threshold 1 and compare
    val baseline = SparkEntry.queries("text_vocab")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val saved = spark.conf.getOption(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    spark.conf.set(
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1")
    try {
      val spilled = SparkEntry.queries("text_vocab")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(spilled == baseline)
    } finally saved match {
      case Some(v) => spark.conf.set(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold", v)
      case None => spark.conf.unset(
        "spark.sql.objectHashAggregate.sortBased.fallbackThreshold")
    }
    // split sizing: tiny maxPartitionBytes multiplies input splits (how a
    // 100 TB scan spreads over executors) without changing any value
    val docs = Tables.load(spark, sfDir, "documents")
    val wide = docs.rdd.getNumPartitions
    val savedB = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "16384")
    try {
      val narrow = Tables.load(spark, sfDir, "documents")
      assert(narrow.rdd.getNumPartitions > wide,
        s"split sizing had no effect: ${narrow.rdd.getNumPartitions} vs $wide")
      assert(narrow.agg(sum(col("n_chars"))).collect()(0).getLong(0) ==
        docs.agg(sum(col("n_chars"))).collect()(0).getLong(0))
    } finally savedB match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("content-addressed ids are stable under repartitioning; mii is not") {
    import org.apache.spark.sql.functions._
    // the determinism contract behind every carve/sample/dedup key in this
    // repo: an id derived from CONTENT survives any partitioning, while
    // monotonically_increasing_id bakes the partition layout into the
    // value — rerun with different parallelism and every downstream join
    // key silently changes
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    def miiIds(parts: Int) = docs.repartition(parts)
      .withColumn("id", monotonically_increasing_id())
      .select("doc_id", "id").collect().map(r => r.getLong(0) -> r.getLong(1))
      .toMap
    assert(miiIds(3) != miiIds(7), "mii unexpectedly stable — test is vacuous")
    def hashIds(parts: Int) = docs.repartition(parts)
      .withColumn("id", md5(col("text")))
      .select("doc_id", "id").collect().map(r => r.getLong(0) -> r.getString(1))
      .toMap
    assert(hashIds(3) == hashIds(7))
  }

  test("AQE converts a planned sort-merge join to broadcast at runtime") {
    import org.apache.spark.sql.functions._
    // static stats see the whole orders table (too big to broadcast); the
    // runtime filter output is tiny, and AQE re-plans the join as a
    // broadcast — the re-optimization that makes one static conf serve
    // every selectivity at 100 TB
    val li = Tables.load(spark, sfDir, "lineitem")
    val smallOrders = Tables.load(spark, sfDir, "orders")
      .filter(col("o_orderkey") % 1000 === 0) // ~0.1% survives, unknown statically
    val j = li.join(smallOrders, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).as("n"))
    j.collect()
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true"), p)
    assert(p.contains("BroadcastHashJoin"),
      s"AQE did not convert the join to broadcast:\n$p")
  }

  test("corrupt file tolerance: ignoreCorruptFiles reads past a bad split") {
    import org.apache.spark.sql.functions.lit
    // at 100 TB some file in some batch IS eventually truncated/corrupt;
    // the read contract must be explicit: fail loudly by default, skip
    // loudly when the job opts in
    val dir = SparkTestSession.tempDir("graft_corrupt")
    spark.range(100).select(lit(1).as("v")).write.parquet(s"$dir/data")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/data/part-corrupt.parquet"),
      "this is not a parquet file".getBytes)
    // default: the corrupt split must surface an error, not silent loss
    intercept[Throwable] {
      spark.read.parquet(s"$dir/data").count()
    }
    // opted in: the good rows all arrive
    val saved = spark.conf.getOption("spark.sql.files.ignoreCorruptFiles")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try assert(spark.read.parquet(s"$dir/data").count() == 100)
    finally saved match {
      case Some(v) => spark.conf.set("spark.sql.files.ignoreCorruptFiles", v)
      case None => spark.conf.unset("spark.sql.files.ignoreCorruptFiles")
    }
  }

  test("cartesian guard fails large unconditioned joins at plan time, allows small") {
    // injected via GraftExtensions (injectOptimizerRule), off by default:
    // with the conf unset, the same plan must optimize fine
    val big1 = spark.range(10L * 1000 * 1000)
    val big2 = spark.range(10L * 1000 * 1000)
    big1.crossJoin(big2).queryExecution.optimizedPlan // no throw while off
    spark.conf.set("spark.graft.guard.cartesian", "true")
    try {
      val e = intercept[Throwable] {
        big1.crossJoin(big2).queryExecution.optimizedPlan
      }
      assert(e.getMessage != null && e.getMessage.contains("cartesian guard"),
        s"wrong failure: $e")
      // a small side is a legitimate broadcast nested-loop plan — allowed
      big1.crossJoin(spark.range(10)).queryExecution.optimizedPlan
      // an explicit broadcast() hint is the user vouching for a side the
      // stats estimate can't see is small — the guard honors it, so its
      // own error-message advice actually works (ADVICE r6)
      big1.crossJoin(org.apache.spark.sql.functions.broadcast(big2))
        .queryExecution.optimizedPlan
      // conditioned joins are never touched
      big1.join(big2.withColumnRenamed("id", "id2"),
        org.apache.spark.sql.functions.col("id") ===
        org.apache.spark.sql.functions.col("id2"))
        .queryExecution.optimizedPlan
    } finally spark.conf.unset("spark.graft.guard.cartesian")
  }

  test("AQE coalesces over-partitioned shuffles at runtime") {
    import org.apache.spark.sql.functions.col
    // shuffle.partitions is sized for the big stages; small aggregates
    // must not pay it — AQE folds the tiny shuffle back down at runtime
    // (the conf that lets ONE setting serve 100 TB and 100 KB stages)
    val df = Tables.load(spark, sfDir, "nation")
      .groupBy(col("n_regionkey")).count()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AQEShuffleRead coalesced"),
      s"AQE did not coalesce the small shuffle:\n$p")
  }

  test("window_topk_rows plans a partial WindowGroupLimit below the shuffle") {
    // the rank-filter idiom must trigger Spark 4's WindowGroupLimit
    // pushdown: a Partial group limit below the exchange caps each map
    // task at k rows per group, so the shuffle carries O(k·groups) rows,
    // not the corpus — the property that makes the idiom 100 TB-safe
    val df = SparkEntry.queries("window_topk_rows")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      s"rank-filter did not plan a WindowGroupLimit pushdown:\n$p")
    assert(p.indexOf("WindowGroupLimit") != p.lastIndexOf("WindowGroupLimit"),
      s"expected BOTH partial and final WindowGroupLimit nodes:\n$p")
  }

  test("text_c4_filters is map-only; dedup_url_keep_best stays max_by, no window") {
    // the C4 kernel is a pure string/array projection — no join, no
    // aggregate, no window may appear; the only exchange is the
    // presentation sort
    val c4 = SparkEntry.queries("text_c4_filters")(spark, sfDir)
    c4.collect()
    val pc4 = c4.queryExecution.executedPlan.toString
    assert(!pc4.contains("Join") && !pc4.contains("Window") &&
      !pc4.contains("HashAggregate"), s"c4 not map-only:\n$pc4")
    // keep-best-per-URL must stay the skew-immune two-phase max_by — a
    // hot canonical URL (the crawl-dup worst case) would serialize in a
    // row_number window
    val kb = SparkEntry.queries("dedup_url_keep_best")(spark, sfDir)
    kb.collect()
    val pkb = kb.queryExecution.executedPlan.toString
    assert(!pkb.contains("Window"), s"keep-best regressed to a window:\n$pkb")
    assert(pkb.contains("partial_max_by") || pkb.contains("partial_maxby")
      || pkb.toLowerCase.contains("max_by"), s"no max_by aggregate:\n$pkb")
  }

  test("scan_parquet_bloom: bloom filters exist per row group, probe pushed") {
    val df = SparkEntry.queries("scan_parquet_bloom")(spark, sfDir)
    assert(df.count() > 0)
    // the bloom is an IO-level skip invisible in the plan — assert its
    // EXISTENCE in every row-group footer for the probe column
    val dir = operators.Relational.ensureBloomTable(spark, sfDir)
    val conf = new org.apache.hadoop.conf.Configuration()
    val files = new java.io.File(dir).listFiles
      .filter(_.getName.endsWith(".parquet")).toSeq
    assert(files.nonEmpty)
    var checked = 0
    for (f <- files) {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try r.getFooter.getBlocks.forEach { b =>
        b.getColumns.forEach { c =>
          if (c.getPath.toDotString == "l_partkey") {
            assert(c.getBloomFilterOffset >= 0,
              s"no bloom filter for l_partkey in ${f.getName}")
            checked += 1
          }
        }
      } finally r.close()
    }
    assert(checked > 0, "no l_partkey column chunks inspected")
    // the probe must reach the scan as pushed filters — that is what the
    // reader's bloom consumption keys off
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("l_partkey"),
      s"probe not pushed to the scan:\n$plan")
  }

  test("text_html_extract rules: script/style/nav/footer die, content survives") {
    import spark.implicits._
    // hand-built page exercising each rule in isolation: script text must
    // never surface; the h1 dies on min-words; the nav dies on link
    // density; the footer dies on stopword density; a content line with a
    // moderate inline link survives with the anchor text inlined
    val html =
      "<html><head><style>p{x}</style></head><body>" +
        "<script>var s=9;secret()</script>" +
        "<h1> short heading</h1>" +
        "<p>the quick brown fox jumps over a lazy dog.</p>" +
        "<div class=\"nav\"><a href=\"/x\">home</a> <a href=\"/y\">about</a> " +
        "<a href=\"/z\">contact</a></div>" +
        "<p>words with a link <a href=\"/m\">in the middle</a> survive fine.</p>" +
        "<div class=\"footer\"><a href=\"/t\">terms</a> copyright 2026 example corp</div>" +
        "</body></html>"
    val out = operators.TextAnalysis.stageHtmlExtract(
      Seq((1L, html)).toDF("doc_id", "html")).collect().head
    assert(out.getAs[String]("text_clean") ==
      "the quick brown fox jumps over a lazy dog.\n" +
        "words with a link in the middle survive fine.")
    assert(out.getAs[Int]("n_lines_kept") == 2)
    assert(out.getAs[Long]("n_links") == 5L)
    // the fixture-driven row is a pure projection: no join/agg/window may
    // appear; the only exchange is the presentation sort
    val df = SparkEntry.queries("text_html_extract")(spark, sfDir)
    assert(df.count() > 0)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Window") &&
      !p.contains("HashAggregate"), s"html extract not map-only:\n$p")
  }

  test("dedup_substring_exact: overlapping keeper semantics, no per-group sort") {
    import spark.implicits._
    // two docs sharing the 5-word span "a b c d e": doc 1 owns the keeper
    // occurrence (pos 0), doc 2's occurrence at pos 1 is the duplicate —
    // 1 dup window covering word positions 1..5
    val tiny = Seq((1L, "a b c d e f"), (2L, "z a b c d e"))
      .toDF("doc_id", "text")
    val out = operators.Dedup.substringDedupCounts(tiny, 5).collect()
    assert(out.length == 1)
    val r = out.head
    assert(r.getLong(0) == 2L && r.getInt(1) == 2 && r.getInt(2) == 1 &&
      r.getInt(3) == 5 && r.getInt(4) == 1,
      s"unexpected rollup: ${r.mkString(",")}")
    // the excision twin on the same tiny corpus: doc 1 keeps everything
    // (owns the keeper), doc 2 loses positions 1..5 and keeps only "z"
    val keep = operators.Dedup.substringKeep(tiny, 5).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    assert(keep(1L) == ("a b c d e f", 6) && keep(2L) == ("z", 1),
      s"unexpected excision: $keep")
    // keeper selection must stay the skew-immune two-phase min-struct
    // aggregate — never a row_number window (same discipline as
    // dedup_segment: one hot boilerplate window must partial-combine)
    val df = SparkEntry.queries("dedup_substring_exact")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"substring keeper regressed to a window:\n$p")
    assert(p.contains("partial_min") || p.toLowerCase.contains("min(struct"),
      s"no two-phase min-struct aggregate:\n$p")
  }

  test("agg_mode stays a two-phase aggregate: no Window, no per-group sort") {
    // mode-imputation must keep the skew-immune min_by shape — a
    // row_number regression would sort every hot user in one task
    val df = SparkEntry.queries("agg_mode")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("Window"), s"agg_mode regressed to a window:\n$p")
  }

  test("profile_table plan has no Expand; dedup_segment has no per-group sort") {
    // profile_table: six countDistincts in ONE aggregate would become a
    // 7-projection Expand multiplying every row before the shuffle — the
    // per-column-branch shape must keep Expand out of the plan
    val prof = SparkEntry.queries("profile_table")(spark, sfDir)
    prof.collect()
    val pp = prof.queryExecution.executedPlan.toString
    assert(!pp.contains("Expand"), s"profile_table regressed to Expand:\n$pp")
    // dedup_segment: keep-first must be the skew-immune min-struct
    // aggregate, never a row_number window (which sorts every hot
    // segment's occurrences in one task)
    val seg = SparkEntry.queries("dedup_segment")(spark, sfDir)
    seg.collect()
    val sp = seg.queryExecution.executedPlan.toString
    assert(!sp.contains("Window"), s"dedup_segment regressed to a window:\n$sp")
  }

  test("profile_table matches per-column recomputation") {
    val out = SparkEntry.queries("profile_table")(spark, sfDir).collect()
    val o = Tables.load(spark, sfDir, "orders")
    val m = out.map(r => r.getString(0) -> r).toMap
    assert(m.size == 6)
    assert(m("o_orderkey").getAs[Long]("n_distinct") ==
      o.select("o_orderkey").distinct.count)
    assert(m("o_orderstatus").getAs[String]("min_s") ==
      o.agg(org.apache.spark.sql.functions.min("o_orderstatus"))
        .collect()(0).getString(0))
    assert(m("o_totalprice").getAs[String]("max_s").matches("\\d+\\.\\d\\d"),
      "double min/max must render through DECIMAL(18,2)")
    assert(out.forall(_.getAs[Long]("n_nulls") == 0)) // fixture has no nulls
  }

  test("expr_json parses map-side: aggregate is two-phase, no Expand") {
    // JSON extraction must stay inside the scan stage so a 100 TB events
    // log never shuffles raw props strings — only the partial sums move
    val df = SparkEntry.queries("expr_json")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_sum"),
      s"expr_json aggregate is not two-phase:\n$p")
    // the partial aggregate's shuffle output must carry only the sums —
    // raw props strings never cross an exchange
    val partialOut = p.linesIterator
      .filter(l => l.contains("HashAggregate") && l.contains("partial_sum"))
      .mkString("\n")
    assert(partialOut.nonEmpty && !partialOut.contains("props"),
      s"raw props column survived to the partial aggregate output:\n$partialOut")
  }

  test("agg_unpivot expands AFTER the aggregate, not before") {
    // unpivot's 3x row growth must apply to the |groups|-sized aggregate
    // output, never to the corpus — Expand above HashAggregate in the plan
    val df = SparkEntry.queries("agg_unpivot")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val iExpand = p.indexOf("Expand")
    val iAgg = p.indexOf("HashAggregate")
    assert(iExpand >= 0 && iAgg >= 0, s"missing Expand/HashAggregate:\n$p")
    assert(iExpand < iAgg, // plan prints top-down: earlier = later stage
      s"Expand runs below the aggregate (corpus-sized growth):\n$p")
  }

  test("expr_generators plans a Generate with ordinals") {
    val df = SparkEntry.queries("expr_generators")(spark, sfDir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("Generate posexplode"),
      s"no posexplode Generate node:\n$p")
  }

  test("merge_upsert action counts reconcile to |base| + |inserts|") {
    // the merge audit: every base row lands as update-or-keep exactly
    // once, every unmatched delta row as insert — total conservation
    val out = SparkEntry.queries("merge_upsert")(spark, sfDir).collect()
    val byAction = out.groupBy(_.getAs[String]("action"))
      .view.mapValues(_.map(_.getAs[Long]("n")).sum).toMap
    val base = Tables.load(spark, sfDir, "orders")
    val nBase = base.count()
    val nIns = base.filter(org.apache.spark.sql.functions
      .col("o_orderkey") % 11 === 3).count()
    assert(byAction.values.sum == nBase + nIns,
      s"merge lost or duplicated rows: $byAction vs base=$nBase ins=$nIns")
    assert(byAction("insert") == nIns)
  }

  test("agg_typed_aggregator runs Partial->Final, matches closed form") {
    // the custom Aggregator must combine map-side like a built-in — a
    // single-phase ObjectHashAggregate would funnel the corpus to reducers
    val df = SparkEntry.queries("agg_typed_aggregator")(spark, sfDir)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_weightedmeanagg"),
      s"typed Aggregator did not plan a partial phase:\n$p")
    import org.apache.spark.sql.functions.{col, sum, round}
    val closed = Tables.load(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(round(sum(col("l_extendedprice") * col("l_quantity")) /
        sum(col("l_quantity")), 4).as("w")).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.foreach { r =>
      assert(math.abs(r.getAs[Double]("wavg_price") -
        closed(r.getString(0))) < 1e-9)
    }
  }

  test("graph_triangles: threshold keeps real structure, count is exact") {
    val r = SparkEntry.queries("graph_triangles")(spark, sfDir).collect()(0)
    val t = r.getAs[Long]("n_triangles")
    val w = r.getAs[Long]("n_wedges")
    val cc = r.getAs[Double]("global_cc")
    // the mean-support threshold must leave a graph that is neither empty
    // nor complete — a complete graph (cc = 1) would make the count vacuous
    assert(t > 0 && w > 0, s"degenerate graph: t=$t w=$w")
    assert(cc > 0.0 && cc < 1.0, s"graph is empty or complete: cc=$cc")
    assert(math.abs(cc - 3.0 * t / w) < 1e-6, "cc must equal 3T/W")
  }

  test("feature_scale: broadcast stats pass, no window; minmax in [0,1]") {
    val df = SparkEntry.queries("feature_scale")(spark, sfDir)
    val rows = df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the normalize pass must be aggregate+broadcast-join, never a
    // per-row window (which would re-shuffle the corpus by segment)
    assert(!p.contains("Window"), s"feature_scale regressed to a window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"stats frame did not broadcast:\n$p")
    assert(rows.forall { r =>
      val m = r.getAs[Double]("minmax"); m >= 0.0 && m <= 1.0
    }, "minmax normalization out of [0,1]")
  }

  test("graph_bfs: levels are valid BFS distances on the significant graph") {
    val df = SparkEntry.queries("graph_bfs")(spark, sfDir)
    val dist = df.collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).intValue)
      .toMap
    assert(dist.values.count(_ == 0) == 1, "exactly one source at level 0")
    assert(dist.values.exists(_ >= 1), "frontier must actually expand")
    // BFS level invariant: every reached node at level k>0 has a neighbor
    // at level k-1, and no edge skips a level by more than 1
    import org.apache.spark.sql.functions._
    val flows = Tables.load(spark, sfDir, "customer")
      .join(Tables.load(spark, sfDir, "orders"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, sfDir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, sfDir, "supplier"),
        col("s_suppkey") === col("l_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(least(col("c_nationkey"), col("s_nationkey")).as("a"),
        greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("s"))
    val rows = flows.collect().map(r =>
      (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
        r.getAs[Number](2).longValue))
    val mean = rows.map(_._3).sum.toDouble / rows.length
    val es = rows.filter(_._3 > mean).flatMap(e =>
      Seq((e._1, e._2), (e._2, e._1)))
    for ((u, v) <- es) {
      val (du, dv) = (dist(u), dist(v))
      if (du >= 0 && dv >= 0)
        assert(math.abs(du - dv) <= 1, s"edge ($u,$v) skips a level: $du,$dv")
    }
    for ((n, k) <- dist if k > 0)
      assert(es.exists { case (u, v) => v == n && dist(u) == k - 1 },
        s"node $n at level $k has no level-${k - 1} neighbor")
  }

  test("graph_pagerank: iteration joins broadcast, mass is conserved") {
    val df = SparkEntry.queries("graph_pagerank")(spark, sfDir)
    val rows = df.collect()
    // iteration frames are |nations|-sized: every join in the loop must
    // have gone broadcast, never a shuffled SMJ over 25-row frames
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"pagerank iterations did not broadcast:\n$p")
    val total = rows.map(_.getAs[Double]("pagerank")).sum
    // dangling mass is dropped by convention: sum strictly < 1, but the
    // teleport floor guarantees >= 0.15
    assert(total > 0.15 && total <= 1.0 + 1e-9,
      s"rank mass out of range: $total")
    assert(rows.forall(_.getAs[Double]("pagerank") >= 0.15 / 25 - 1e-9),
      "every node keeps at least the teleport share")
  }

  test("graph_pagerank_converged: exact stop, iter count, block hygiene") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val df = SparkEntry.queries("graph_pagerank_converged")(spark, sfDir)
    // the convergence loop ran eagerly at construction; only the terminal
    // state may remain persistent (edges + deg + final ranks) — every
    // superseded round's checkpoint blocks must already be dropped, or a
    // 60-round corpus run pins 60 rounds of blocks
    val live = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(live.size <= 3,
      s"converged pagerank leaked ${live.size} persistent RDDs (expect " +
        "edges + deg + final ranks at most)")
    val rows = df.collect()
    val iters = rows.map(_.getAs[Int]("n_iters")).distinct
    assert(iters.length == 1, s"n_iters must be constant: ${iters.toSeq}")
    assert(iters.head >= 2 && iters.head < operators.Graph.ConvMaxIters,
      s"fixture should converge non-trivially under the cap: ${iters.head}")
    // converged ranks: one more Jacobi step moves total mass < n*eps
    val total = rows.map(_.getAs[Double]("pagerank")).sum
    assert(total > 0.15 && total <= 1.0 + 1e-9, s"rank mass: $total")
    graft.Caches.releaseAll(spark)
  }

  test("graph_components equals driver-side union-find on the co-purchase graph") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("graph_components")(spark, sfDir).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .toSeq.sortBy(_._1)
    // at this fixture's part cardinality (~200) the >2×mean graph
    // percolates into one component; fragmentation (63 components) shows
    // at sf0.01 where the driver gate runs — here the union-find replay
    // is the contract
    assert(got.nonEmpty, "co-purchase graph has no edges at this SF")
    // same edge derivation, reduced by a local union-find
    val li = Tables.load(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val sup = li.as("x").join(li.as("y"),
        col("x.ok") === col("y.ok") && col("x.pk") < col("y.pk"))
      .select(col("x.pk").as("a"), col("y.pk").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val mean = sup.map(_._3).sum.toDouble / sup.length
    val edges = sup.filter(_._3 > 2 * mean).map(e => (e._1, e._2))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = parent.keys.toSeq.groupBy(find).map { case (_, ms) =>
      ms.min -> ms.size.toLong
    }.toSeq.sortBy(_._1)
    assert(got == want, s"components diverge from union-find:\n$got\n$want")
  }

  test("graph_sssp equals a driver-side Dijkstra on the weighted graph") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("graph_sssp")(spark, sfDir).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue)
      .toSeq.sorted
    assert(got.nonEmpty, "significant-trade graph empty at this SF")
    // same edge/weight derivation, shortest paths by a different
    // algorithm entirely (Dijkstra vs relational Bellman–Ford)
    val cust = Tables.load(spark, sfDir, "customer")
    val flows = cust
      .join(Tables.load(spark, sfDir, "orders"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, sfDir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, sfDir, "supplier"),
        col("s_suppkey") === col("l_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(least(col("c_nationkey"), col("s_nationkey")).as("a"),
              greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("s"))
      .collect().map(r => (r.getAs[Number](0).longValue,
                           r.getAs[Number](1).longValue, r.getLong(2)))
    val mean = flows.map(_._3).sum.toDouble / flows.length
    val und = flows.filter(_._3 > mean)
    val maxSup = und.map(_._3).max
    val adj = und.flatMap { case (a, b, sup) =>
      val w = maxSup + 1 - sup
      Seq(a -> (b, w), b -> (a, w))
    }.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val src = adj.keys.min
    val dist = scala.collection.mutable.Map(src -> 0L)
    val pq = scala.collection.mutable.PriorityQueue((0L, src))(
      Ordering.by(-_._1))
    while (pq.nonEmpty) {
      val (du, u) = pq.dequeue()
      if (du == dist(u)) for ((v, w) <- adj.getOrElse(u, Nil)) {
        if (dist.get(v).forall(_ > du + w)) {
          dist(v) = du + w; pq.enqueue((du + w, v))
        }
      }
    }
    val want = adj.keys.toSeq.map(n => n -> dist.getOrElse(n, -1L)).sorted
    assert(got == want, s"sssp diverges from Dijkstra:\n$got\n$want")
  }

  test("graph_label_prop equals a driver-side replay of the weighted vote") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("graph_label_prop")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Number](1).longValue).toSeq.sorted
    assert(got.nonEmpty, "significant-trade graph empty at this SF")
    // same weighted edge derivation, then LpRounds synchronous plurality
    // votes replayed locally with the identical (wsum desc, lbl asc) argmax
    val cust = Tables.load(spark, sfDir, "customer")
    val flows = cust
      .join(Tables.load(spark, sfDir, "orders"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(spark, sfDir, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(spark, sfDir, "supplier"),
        col("s_suppkey") === col("l_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .select(least(col("c_nationkey"), col("s_nationkey")).as("a"),
              greatest(col("c_nationkey"), col("s_nationkey")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("s"))
      .collect().map(r => (r.getAs[Number](0).longValue,
                           r.getAs[Number](1).longValue, r.getLong(2)))
    val mean = flows.map(_._3).sum.toDouble / flows.length
    val und = flows.filter(_._3 > mean)
    val edges = und.flatMap(e => Seq((e._1, e._2, e._3), (e._2, e._1, e._3)))
    var lbl: Map[Long, Long] =
      edges.map(_._1).distinct.map(n => n -> n).toMap
    for (_ <- 1 to operators.Graph.LpRounds) {
      lbl = edges.groupBy(_._2).map { case (v, in) =>
        val votes = in.groupBy(e => lbl(e._1))
          .map { case (l, es) => (l, es.map(_._3).sum) }
        v -> votes.toSeq.maxBy { case (l, w) => (w, -l) }._1
      }
    }
    val nations = Tables.load(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => r.getAs[Number](0).longValue -> r.getString(1)).toMap
    val want = lbl.toSeq.map { case (n, l) => nations(n) -> l }.sorted
    assert(got == want, s"label propagation diverges from replay:\n$got\n$want")
  }
}
