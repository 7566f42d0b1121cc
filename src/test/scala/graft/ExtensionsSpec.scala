package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.{GraftFunctions, HashImpls}

class HashExpressionsSpec extends AnyFunSuite {
  import SparkTestSession._
  import org.apache.spark.unsafe.types.UTF8String
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  test("no graft function name shadows a Spark built-in") {
    // the idempotent register() skips any already-bound name — sound only
    // while no graft name collides with a built-in (a collision would
    // silently resolve to Spark's function forever). The runtime guard in
    // GraftFunctions.register fails loudly; this test makes the collision
    // a named failure at PR time instead of a require() at first use.
    val builtin =
      org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
    val clashes = GraftFunctions.names.filter(n => builtin.functionExists(
      org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(clashes.isEmpty,
      s"graft function names shadow Spark built-ins: $clashes — rename them")
  }

  test("rolling hash matches direct polynomial computation") {
    val s = "hello world"
    var expect = 0L
    s.getBytes("UTF-8").foreach(b => expect = expect * 1000003L + (b & 0xffL))
    assert(HashImpls.rollingHash(UTF8String.fromString(s)) == expect)
  }

  test("char_grams: distinct code-point q-grams, short-string edge cases") {
    def grams(s: String, q: Int): Seq[String] = {
      val a = HashImpls.charGrams(UTF8String.fromString(s), q)
      (0 until a.numElements()).map(i => a.getUTF8String(i).toString)
    }
    // sliding windows of "abcabc": abc bca cab abc -> distinct, first-seen
    assert(grams("abcabc", 3) == Seq("abc", "bca", "cab"))
    assert(grams("ab", 3).isEmpty, "below-width string must yield empty")
    assert(grams("abc", 3) == Seq("abc"))
    // multi-byte text: positions are code points, never split bytes
    assert(grams("héllo", 2) == Seq("hé", "él", "ll", "lo"))
    GraftFunctions.register(spark)
    val viaSql = spark.sql("SELECT char_grams('abcabc', 3) g")
      .collect()(0).getSeq[String](0)
    assert(viaSql == Seq("abc", "bca", "cab"))
  }

  test("cdc_cuts matches the declarative md5-window form in-engine") {
    // pins the r18 native kernel to the exact lambda composition it
    // replaced (Dedup's CDC cut rule) THROUGH the engine — codegen path,
    // Spark's md5/substring semantics — not just the JVM reference the
    // scalacheck property uses. Cases: a long ASCII doc (real cuts), a
    // multi-byte doc (code-point windows), below-width, empty, and an
    // astral pair (one code point, two Java chars).
    GraftFunctions.register(spark)
    import spark.implicits._
    val docs = Seq(
      ("the quick brown fox jumps over the lazy dog " * 20).trim,
      "héllo wörld ünd möré téxt " * 10 + "中文字符串 " * 8,
      "short", "", "a😀b😀" + "padding to reach window width").toDF("s")
    val both = docs.select(
      GraftFunctions.cdc_cuts(col("s"), 8).as("kernel"),
      when(length(col("s")) >= 8, expr(
        """filter(transform(sequence(1, length(s) - 7),
                  p -> CASE WHEN substring(md5(substring(s, p, 8)), 1, 1)
                            = '0' THEN p + 7 ELSE -1 END),
                  x -> x > 0)"""))
        .otherwise(expr("array()").cast("array<int>")).as("lambda"))
      .collect()
    both.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1),
        s"kernel ${r.getSeq[Int](0)} != lambda ${r.getSeq[Int](1)}")
    }
    // at least one case must actually produce cuts or the test is vacuous
    assert(both.exists(_.getSeq[Int](0).nonEmpty))
  }

  test("simhash of near-identical token sets is near in hamming space") {
    def arr(ts: Seq[String]) =
      new GenericArrayData(ts.map(UTF8String.fromString).toArray[Any])
    val base = (1 to 200).map(i => s"tok$i")
    val a = HashImpls.simhash64(arr(base))
    val b = HashImpls.simhash64(arr(base.updated(5, "changed")))
    val c = HashImpls.simhash64(arr((1 to 200).map(i => s"other$i")))
    assert(java.lang.Long.bitCount(a ^ b) <= 8, "near-dup drifted too far")
    assert(java.lang.Long.bitCount(a ^ c) >= 16, "unrelated sets too close")
  }

  test("minhash signature similarity estimates jaccard") {
    def arr(ts: Seq[String]) =
      new GenericArrayData(ts.map(UTF8String.fromString).toArray[Any])
    val xs = (1 to 100).map(i => s"sh$i")
    val ys = (21 to 120).map(i => s"sh$i") // jaccard = 80/120 ≈ 0.667
    val k = 256
    val ma = HashImpls.minhash64(arr(xs), k)
    val mb = HashImpls.minhash64(arr(ys), k)
    val agree = (0 until k).count(i => ma.getLong(i) == mb.getLong(i))
    val est = agree.toDouble / k
    assert(math.abs(est - 80.0 / 120.0) < 0.12, s"estimate $est too far")
  }

  test("cosine_sim via SQL registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) c1, " +
      "cosine_sim(array(1.0d, 0.0d), array(0.0d, 1.0d)) c2, " +
      "rolling_hash('abc') rh, simhash64(array('a','b')) sh, " +
      "size(minhash64(array('a','b'), 16)) mk").collect()(0)
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-15)
    assert(math.abs(r.getDouble(1)) < 1e-15)
    assert(r.getInt(4) == 16)
  }

  test("sha224/384/512 match published NIST test vectors") {
    // DuckDB 1.0 lacks sha224/384/512, so the oracle can't check
    // expr_hash_ext — verify the engine's sha2 against the FIPS 180-2
    // "abc" vectors (+ the empty-string sha256) instead.
    val r = spark.sql(
      "SELECT sha2(cast('abc' as binary), 224) a, " +
      "sha2(cast('abc' as binary), 384) b, " +
      "sha2(cast('abc' as binary), 512) c, " +
      "sha2(cast('' as binary), 256) d").collect()(0)
    assert(r.getString(0) ==
      "23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7")
    assert(r.getString(1) ==
      "cb00753f45a35e8bb5a03d699ac65007272c32ab0eded1631a8b605a43ff5bed" +
      "8086072ba1e7cc2358baeca134c825a7")
    assert(r.getString(2) ==
      "ddaf35a193617abacc417349ae20413112e6fa4e89a97ea20a9eeee64b55d39a" +
      "2192992a274fc1a836ba3c23a3feebbd454d4423643ce80e2a9ac94fa54ca49f")
    assert(r.getString(3) ==
      "e3b0c44298fc1c149afbf4c8996fb92427ae41e4649b934ca495991b7852b855")
  }

  test("rolling_hash and simhash64 match golden values") {
    // golden constants computed independently (python, same published
    // algorithms) — pins the wire format of text_fingerprint_native, which
    // has no DuckDB oracle
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT rolling_hash('hello world') a, rolling_hash('graft') b, " +
      "simhash64(array('the','quick','brown','fox')) c").collect()(0)
    assert(r.getLong(0) == -4149311003207586236L)
    assert(r.getLong(1) == 6867895959594030892L)
    assert(r.getLong(2) == 5363936793200807308L)
  }

  test("GraftExtensions installs the function surface via spark.sql.extensions") {
    // the test session carries spark.sql.extensions=GraftExtensions; a
    // fresh newSession() rebuilds session state from the extensions with
    // NO register() call — if resolution works there, the conf-string
    // deployment path (shared cluster, spark-submit --conf) works
    val s2 = spark.newSession()
    val r = s2.sql(
      "SELECT rolling_hash('abc') h, " +
      "size(hyperplane_bands(array(1.0d, 0.0d), 4, 8, 42)) nb, " +
      "cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) c").collect()(0)
    assert(r.getLong(0) ==
      HashImpls.rollingHash(UTF8String.fromString("abc")))
    assert(r.getInt(1) == 4)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-15)
  }

  test("custom expressions stay inside whole-stage codegen") {
    GraftFunctions.register(spark)
    val df = Tables.load(spark, sfDir, "documents")
      .select(GraftFunctions.rolling_hash(col("text")).as("h"))
      .filter(col("h") =!= 0)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"rolling_hash fell out of codegen:\n$p")
    // the LSH signature kernel sits on the embedding-dedup hot path — it
    // must codegen like the string kernels do
    val lsh = Tables.load(spark, sfDir, "embeddings")
      .select(GraftFunctions.hyperplane_bands(
        col("embedding").cast("array<double>"), 16, 12, 42L).as("bands"))
      .filter(org.apache.spark.sql.functions.size(col("bands")) === 16)
    lsh.collect()
    val lp = lsh.queryExecution.executedPlan.toString
    assert(lp.contains("*("), s"hyperplane_bands fell out of codegen:\n$lp")
  }
}

class AggregatorSpec extends AnyFunSuite {
  test("TopKDoubles: reduce/merge equal a full sort, buffers stay k-bounded") {
    val agg = new graft.functions.TopKDoubles(10)
    val rnd = new scala.util.Random(7)
    val xs = Array.fill(1000)(rnd.nextDouble() * 1e6)
    val whole = xs.foldLeft(agg.zero)(agg.reduce)
    assert(whole.length == 10)
    val (l, r) = xs.splitAt(333)
    val merged = agg.merge(l.foldLeft(agg.zero)(agg.reduce),
                           r.foldLeft(agg.zero)(agg.reduce))
    val want = xs.sorted.reverse.take(10).toSeq
    assert(agg.finish(whole).toSeq == want)
    assert(agg.finish(merged).toSeq == want, "merge disagrees with reduce")
    // under-filled group
    val small = Array(3.0, 1.0, 2.0).foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(small).toSeq == Seq(3.0, 2.0, 1.0))
  }
}

class DedupSpec extends AnyFunSuite {
  import SparkTestSession._

  test("minhash LSH finds exactly the exact-jaccard pairs (sf0.001)") {
    val exact = operators.Dedup.queries("dedup_ngram_jaccard")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = operators.Dedup.queries("dedup_minhash_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    assert(lsh == exact, s"LSH=${lsh.size} exact=${exact.size}")
  }

  test("join_fuzzy equals the brute cross-relation J>=0.8 pair set") {
    graft.functions.GraftFunctions.register(spark)
    val par = pmod(regexp_replace(col("source"), "^src", "").cast("int"),
      lit(2))
    val sh = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), par.as("par"),
        graft.functions.GraftFunctions.word_shingles(
          graft.functions.TextFunctions.words(col("text")), 3).as("sh"))
      .filter(size(col("sh")) > 0)
    // brute side: full cross join of the two relations with the same
    // exact Jaccard predicate — any prefix-filter miss is a set diff
    val brute = sh.filter(col("par") === 0)
        .select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      .crossJoin(sh.filter(col("par") === 1)
        .select(col("doc_id").as("doc_b"), col("sh").as("sb")))
      .withColumn("c", size(array_intersect(col("sa"), col("sb"))))
      .filter(lit(1.0) * col("c") /
        (size(col("sa")) + size(col("sb")) - col("c")) >= 0.8)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = operators.Dedup.queries("join_fuzzy")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain cross-source near-dups")
    assert(got == brute, s"fuzzy=${got.size} brute=${brute.size}")
  }

  test("edit-distance banding finds exactly the brute-force lev<=10 pairs") {
    // brute side: length-screened cross join with the same levenshtein
    // predicate — any banding miss shows up as a set difference
    val n = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.normText(col("text")).as("norm"))
    val brute = n.select(col("doc_id").as("doc_a"), col("norm").as("na"))
      .crossJoin(n.select(col("doc_id").as("doc_b"), col("norm").as("nb")))
      .filter(col("doc_a") < col("doc_b") &&
        abs(length(col("na")) - length(col("nb"))) <= 10 &&
        levenshtein(col("na"), col("nb")) <= 10)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = operators.Dedup.queries("dedup_edit_distance")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain lev<=10 near-dups")
    assert(banded == brute, s"banded=${banded.size} brute=${brute.size}")
  }

  test("q-gram tier equals brute force; banding pairs are a subset") {
    val n = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"),
        graft.functions.TextFunctions.normText(col("text")).as("norm"))
    val brute = n.select(col("doc_id").as("doc_a"), col("norm").as("na"))
      .crossJoin(n.select(col("doc_id").as("doc_b"), col("norm").as("nb")))
      .filter(col("doc_a") < col("doc_b") &&
        abs(length(col("na")) - length(col("nb"))) <= 10 &&
        levenshtein(col("na"), col("nb")) <= 10)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val qgram = operators.Dedup.queries("dedup_edit_qgram")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = operators.Dedup.queries("dedup_edit_distance")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(brute.nonEmpty, "fixture should contain lev<=10 near-dups")
    assert(qgram == brute, s"qgram=${qgram.size} brute=${brute.size}")
    assert(banded.subsetOf(qgram),
      s"banding found pairs the exact tier missed: ${banded -- qgram}")
  }

  test("q-gram tier is exact on scattered edits that zero the shingle jaccard") {
    // adversarial corpus: 30 distinct 7-char words, one single-char edit
    // every 3rd word — every 3-word shingle window overlaps an edit, so
    // the pair shares NO word-shingle (jaccard 0) and the banding tier can
    // never surface it; lev = 10 <= K and the char-q-gram count bound
    // still holds (10 edits destroy <= 30 of ~200 distinct 3-grams). This
    // is precisely the documented recall gap dedup_edit_qgram closes.
    val words = (0 until 30).map(i => f"w$i%02daaaa")
    val orig = words.mkString(" ")
    val edited = words.zipWithIndex.map { case (w, i) =>
      if (i % 3 == 0) w.dropRight(1) + "z" else w
    }.mkString(" ")
    val far = (0 until 30).map(i => f"q$i%02dbbbb").mkString(" ")
    val dir = java.nio.file.Files
      .createTempDirectory("qgram_adversarial").toString
    import spark.implicits._
    Seq((0L, orig, "syn", orig.length.toLong),
        (1L, edited, "syn", edited.length.toLong),
        (2L, far, "syn", far.length.toLong))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val qgram = operators.Dedup.queries("dedup_edit_qgram")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(qgram == Set((0L, 1L, 10)),
      s"exact tier must find exactly the planted scattered-edit pair: $qgram")
    val banded = operators.Dedup.queries("dedup_edit_distance")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!banded.contains((0L, 1L)),
      "premise broken: banding surfaced a zero-jaccard pair — the " +
        "adversarial fixture no longer demonstrates the recall gap")
  }

  test("q-gram tier: exact-dup collapse expands to the full pair set") {
    // 3x-replicated adversarial corpus (the semdedup replication-spec
    // convention): the rep machinery must see ONE doc per distinct text
    // and the member re-expansion must emit every intra pair (lev 0) and
    // every cross pair (lev 10), r^2 of the rep pair
    val words = (0 until 30).map(i => f"w$i%02daaaa")
    val orig = words.mkString(" ")
    val edited = words.zipWithIndex.map { case (w, i) =>
      if (i % 3 == 0) w.dropRight(1) + "z" else w
    }.mkString(" ")
    val dir = java.nio.file.Files
      .createTempDirectory("qgram_replicated").toString
    import spark.implicits._
    (0 until 3).flatMap(r => Seq(
        (r * 10L, orig, "syn", orig.length.toLong),
        (r * 10L + 1, edited, "syn", edited.length.toLong)))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = operators.Dedup.queries("dedup_edit_qgram")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val origIds = Seq(0L, 10L, 20L)
    val editIds = Seq(1L, 11L, 21L)
    def intra(ids: Seq[Long]) = for {
      a <- ids; b <- ids if a < b
    } yield (a, b, 0)
    val cross = for { a <- origIds; b <- editIds } yield
      (math.min(a, b), math.max(a, b), 10)
    val want = (intra(origIds) ++ intra(editIds) ++ cross).toSet
    assert(got == want,
      s"missing=${want -- got} spurious=${got -- want}")
  }

  test("cdc chunking re-syncs after an insertion where the fixed grid loses all") {
    // deterministic ~1300-char doc (40 md5 words) and a copy with one
    // word INSERTED at the front: the fixed 3-word segment grid shifts
    // every segment (zero dedup), while content-defined cuts re-
    // synchronize at the first cut inside the shared suffix and the
    // copy's chunks dedup against the original from there on
    val words = (0 until 40).map(i =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(s"cdc-fixture-$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString)
    val orig = words.mkString(" ")
    val shifted = "zzzzz " + orig
    val dir = java.nio.file.Files.createTempDirectory("cdc_shift").toString
    import spark.implicits._
    Seq((0L, orig, "syn", orig.length.toLong),
        (1L, shifted, "syn", shifted.length.toLong))
      .toDF("doc_id", "text", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val cdc = operators.Dedup.queries("dedup_cdc_chunks")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getInt(2), r.getInt(3))).toMap
    val (nc, _, nd) = cdc(1L)
    assert(nd >= (0.7 * nc).toInt,
      s"CDC failed to re-sync after the insertion: $nd of $nc dropped")
    val seg = operators.Dedup
      .segmentDedupCounts(Tables.load(spark, dir, "documents"), 3)
      .collect().map(r => r.getLong(0) -> r.getInt(3)).toMap
    assert(seg(1L) == 0,
      "premise broken: the fixed grid deduped the shifted copy — the " +
        s"fixture no longer demonstrates CDC's advantage (${seg(1L)})")
  }

  test("simhash quarter blocking equals brute-force hamming<=3 exactly") {
    // pigeonhole blocking is provably exact for hamming<=3 on 4 quarters —
    // assert set equality against an all-pairs scan of the same (portable
    // md5-derived) signatures the operator blocks on
    val sims = operators.Dedup.simhashMd5Sigs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = (for {
      (a, sa) <- sims
      (b, sb) <- sims
      if a < b && java.lang.Long.bitCount(sa ^ sb) <= 3
    } yield (a, b)).toSet
    val op = operators.Dedup.queries("dedup_simhash")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(op == brute, s"blocking=${op.size} brute=${brute.size}")
    assert(brute.nonEmpty, "fixture should contain simhash near-dups")
  }

  test("connectedComponents: diameter-1000 chain converges in O(log D) rounds") {
    import spark.implicits._
    // a 1001-node path graph has diameter 1000: plain min-label propagation
    // needs 1000 rounds; pointer jumping doubles label reach per round
    // (d_k = 2^(k+1)-2), so convergence lands at 10 rounds + 1 to observe
    // the stationary Σlabel — comfortably inside the production cap of 20
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val chain = (0L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val labels = operators.Dedup.connectedComponents(chain, maxRounds = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(labels.length == 1001)
    assert(labels.forall(_._2 == 0L), "all chain nodes must join component 0")
    // storage hygiene: everything but the final labels checkpoint released
    val leaked = spark.sparkContext.getPersistentRDDs.keySet.diff(before)
    assert(leaked.size <= 1,
      s"connectedComponents leaked ${leaked.size} persistent RDDs")
    // an impossible cap still throws rather than returning fragments
    // (5 jumping rounds reach label distance 2^6-2 = 62 < 1000)
    intercept[IllegalStateException] {
      operators.Dedup.connectedComponents(chain, maxRounds = 5).collect()
    }
    // two separate components keep separate min labels
    val two = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    val byComp = operators.Dedup.connectedComponents(two, maxRounds = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._2)
    assert(byComp.keySet == Set(0L, 10L))
    assert(byComp(0L).map(_._1).toSet == Set(0L, 1L, 2L))
    assert(byComp(10L).map(_._1).toSet == Set(10L, 11L))
    Caches.releaseAll(spark)
  }

  test("connectedComponents round-drop never unpersists caller caches") {
    import spark.implicits._
    // the r16 review catch: a caller cache whose FIRST materialization
    // happens inside CC's init checkpoint job used to land in the bare
    // block-id diff, and round 1's drop would blocking-unpersist it —
    // every later round then recomputed the caller's whole upstream
    // pipeline. The tracking now keys on isCheckpointed, so only CC's
    // own checkpoint blocks are ever dropped. A 64-node chain forces
    // multiple rounds; the pairs cache is deliberately NOT materialized
    // before the call.
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
      .cache()
    try {
      val labels = operators.Dedup.connectedComponents(pairs, maxRounds = 20)
      labels.write.format("noop").mode("overwrite").save()
      // precisely the RDDs this call created that are NOT CC's own
      // checkpoints — i.e. the pairs cache (and CC's internal edge
      // cache, also non-checkpointed, released by CC's own finally);
      // a leaked cache from an earlier test can't satisfy this (r16
      // review: a bare exists() over ALL persistent RDDs could pass
      // spuriously)
      val cachedLive = spark.sparkContext.getPersistentRDDs
        .exists { case (id, r) => !preexisting(id) && !r.isCheckpointed }
      assert(cachedLive,
        "the caller's pairs cache was unpersisted by CC's round tracking")
    } finally {
      pairs.unpersist(blocking = true)
      Caches.releaseAll(spark)
    }
  }

  test("connectedComponents equals driver-side union-find on random graphs") {
    import spark.implicits._
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val n = 200
      val edges = Seq.fill(120)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // driver-side union-find ground truth
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> find(v.toInt).toLong).toMap
      // the distributed form must produce identical component minima:
      // union-find with min-root unioning labels every node by the
      // component min, which is exactly connectedComponents' contract
      val got = operators.Dedup
        .connectedComponents(edges.toDF("doc_a", "doc_b"), maxRounds = 20)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed: ${got.size} vs ${want.size} labels")
    }
  }

  test("dedup_exact stats are consistent") {
    val r = operators.Dedup.queries("dedup_exact")(spark, sfDir).collect()(0)
    assert(r.getAs[Long]("n_docs") ==
      r.getAs[Long]("n_unique") + r.getAs[Long]("n_dupes"))
  }

  test("jaccard exact-duplicate pre-collapse expands to the full pair set") {
    // replicate the corpus once (exact copies at doc_id+offset) and check
    // the operator's collapse→index→expand path produces EXACTLY the
    // brute expansion of the base answer: every base pair (a,b,j) becomes
    // the 4 member pairs at the same j, and every ≥3-word doc gains its
    // (d, d+off, 1.0) replica pair. This pins the property that made the
    // ×10-replica SF≈1 canary linear instead of quadratic in the
    // replication factor.
    val off = 1000000L
    val base = Tables.load(spark, sfDir, "documents")
    val dir = SparkTestSession.tempDir("graft_jacrep")
    base.unionByName(base.withColumn("doc_id", col("doc_id") + off))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def key(j: Double) = BigDecimal(j).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val basePairs = operators.Dedup.queries("dedup_ngram_jaccard")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), key(r.getDouble(2))))
    val eligible = base.select(col("doc_id"),
        graft.functions.TextFunctions.normText(col("text")).as("nm"))
      .filter(size(split(col("nm"), " ")) >= 3)
      .collect().map(_.getLong(0))
    val want = (basePairs.flatMap { case (a, b, j) =>
      for (x <- Seq(a, a + off); y <- Seq(b, b + off))
        yield (math.min(x, y), math.max(x, y), j)
    } ++ eligible.map(d => (d, d + off, key(1.0)))).toSet
    val got = operators.Dedup.queries("dedup_ngram_jaccard")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), key(r.getDouble(2)))).toSet
    assert(got == want, s"got=${got.size} want=${want.size} " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("minhash exact-duplicate pre-collapse expands to the full pair set") {
    // same contract as the jaccard expansion spec above, for the MinHash
    // tier's collapse: base pair (a,b,j) → 4 member pairs at the same j,
    // plus the (d, d+off, 1.0) replica pair for every shingling doc
    // (identical signatures collide in every band, so banding recall on
    // the new intra pairs is 1 by construction, not probabilistic)
    val off = 1000000L
    val base = Tables.load(spark, sfDir, "documents")
    val dir = SparkTestSession.tempDir("graft_mhrep")
    base.unionByName(base.withColumn("doc_id", col("doc_id") + off))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def key(j: Double) = BigDecimal(j).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val basePairs = operators.Dedup.queries("dedup_minhash_lsh")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), key(r.getDouble(2))))
    val eligible = base.select(col("doc_id"),
        graft.functions.TextFunctions.normText(col("text")).as("nm"))
      .filter(size(split(col("nm"), " ")) >= 3)
      .collect().map(_.getLong(0))
    val want = (basePairs.flatMap { case (a, b, j) =>
      for (x <- Seq(a, a + off); y <- Seq(b, b + off))
        yield (math.min(x, y), math.max(x, y), j)
    } ++ eligible.map(d => (d, d + off, key(1.0)))).toSet
    val got = operators.Dedup.queries("dedup_minhash_lsh")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), key(r.getDouble(2)))).toSet
    assert(got == want, s"got=${got.size} want=${want.size} " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }

  test("containment exact-duplicate pre-collapse expands to the full pair set") {
    // both sides collapse here (probe fragments AND corpus), so the
    // expansion is member×member: base (frag, doc, c) → exactly the 4
    // pairs {frag, frag+off}×{doc, doc+off} at the same c. Replication
    // adds no NEW rep-level relation (no extra intra term — the
    // fragment-in-own-doc pair already exists in the base at c = 1.0).
    // The offset must keep the %29 fragment carve aligned across
    // replicas, so it is a multiple of 29.
    val off = 29L * 50000
    val base = Tables.load(spark, sfDir, "documents")
    val dir = SparkTestSession.tempDir("graft_ctrep")
    base.unionByName(base.withColumn("doc_id", col("doc_id") + off))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def key(c: Double) = BigDecimal(c).setScale(9, BigDecimal.RoundingMode.HALF_UP)
    val basePairs = operators.Dedup.queries("dedup_containment")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), key(r.getDouble(2))))
    assert(basePairs.nonEmpty, "planted fragments must surface sources")
    val want = basePairs.flatMap { case (f, d, c) =>
      for (x <- Seq(f, f + off); y <- Seq(d, d + off)) yield (x, y, c)
    }.toSet
    val got = operators.Dedup.queries("dedup_containment")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), key(r.getDouble(2)))).toSet
    assert(got == want, s"got=${got.size} want=${want.size} " +
      s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
  }
}

class SimilaritySpec extends AnyFunSuite {
  import SparkTestSession._

  test("brute-force topk is well-formed") {
    val rows = operators.Similarity.queries("ann_brute_topk")(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, rs) =>
      assert(rs.map(_.getInt(1)).sorted.sameElements(1 to rs.length))
      val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cs.zip(cs.tail).forall { case (a, b) => a >= b }, "not descending")
      cs.foreach(c => assert(c >= -1.0001 && c <= 1.0001))
    }
  }

  test("ivf probing ALL cells equals brute force exactly (recall = 1)") {
    val ivf = operators.Similarity
      .ivfTopKWithProbes(spark, sfDir, operators.Similarity.NCells)
      .select("qid", "rnk", "vec_id", "cos")
      .collect().map(_.toSeq.toList).toSet
    val brute = operators.Similarity.queries("ann_brute_topk")(spark, sfDir)
      .collect().map(_.toSeq.toList).toSet
    assert(ivf == brute, s"ivf=${ivf.size} brute=${brute.size}")
  }

  test("ivf recall is monotonically non-decreasing in nprobe") {
    val brute = operators.Similarity.queries("ann_brute_topk")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val probes = Seq(2, 4, 8, operators.Similarity.NCells)
    val recalls = probes.map { np =>
      val ivf = operators.Similarity.ivfTopKWithProbes(spark, sfDir, np).collect()
      // mechanism: per query ranks are 1..k and descending scores
      ivf.groupBy(_.getLong(0)).foreach { case (_, rs) =>
        val cs = rs.sortBy(_.getInt(1)).map(_.getDouble(4))
        assert(cs.zip(cs.tail).forall { case (a, b) => a >= b })
      }
      val hits = ivf.map(r => (r.getLong(0), r.getLong(2))).count(brute.contains)
      hits.toDouble / brute.size
    }
    info(s"IVF recall@5 over nprobe=$probes: $recalls")
    recalls.zip(recalls.tail).foreach { case (lo, hi) =>
      assert(hi >= lo, s"recall not monotonic: $recalls")
    }
    assert(recalls.last == 1.0, s"full probe must be exact: $recalls")
    // floor for the default width, set from the deterministic fixture value
    // (decimal-summed k-means makes this exactly reproducible: 0.84)
    assert(recalls.head >= 0.8, s"nprobe=2 recall ${recalls.head} below floor")
  }

  test("ivf query path reads the prebuilt index without rewriting it") {
    // build (or reuse) the index, then snapshot every file under it
    operators.Similarity.queries("ann_ivf_topk")(spark, sfDir).collect()
    val dir = new java.io.File(operators.Similarity.indexDir(spark, sfDir))
    def snapshot: Seq[(String, Long, Long)] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(dir).map(f => (f.getPath, f.length, f.lastModified)).sortBy(_._1)
    }
    val before = snapshot
    assert(before.nonEmpty, "index was not materialized")
    operators.Similarity.queries("ann_ivf_topk")(spark, sfDir).collect()
    operators.Similarity.queries("dedup_embedding_threshold")(spark, sfDir).collect()
    assert(snapshot == before, "query path rewrote the index")
  }

  test("pq full-shortlist re-rank equals brute force exactly") {
    // shortlist = corpus size ⇒ the exact re-rank ranks every candidate,
    // so the answer is the brute answer regardless of ADC quality —
    // this is what lets ann_pq_full_rerank carry the brute DuckDB oracle
    val full = operators.Similarity
      .pqTopKWithShortlist(spark, sfDir, Int.MaxValue)
      .collect().map(_.toSeq.toList).toSet
    val brute = operators.Similarity.queries("ann_brute_topk")(spark, sfDir)
      .collect().map(_.toSeq.toList).toSet
    assert(full == brute, s"full-rerank=${full.size} brute=${brute.size}")
  }

  test("pq production shortlist: exact re-rank cosines and high recall vs brute") {
    val pq = operators.Similarity.pqTopK(spark, sfDir).collect()
    val brute = operators.Similarity.queries("ann_brute_topk")(spark, sfDir)
      .collect()
    // (a) re-rank exactness: every returned cosine equals the exact value
    // recomputed locally with the same strict left-to-right kernel and the
    // same HALF_UP 6-dp rounding — the re-rank stage must never leak ADC
    // approximation into reported scores
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cosExact(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    assert(pq.nonEmpty)
    pq.foreach { r =>
      val want = BigDecimal(cosExact(vecs(r.getLong(0)), vecs(r.getLong(2))))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(r.getDouble(3) == want, s"re-rank cosine not exact: $r want $want")
    }
    // (b) shortlist-50 recall@5 vs brute on the deterministic fixture
    val bruteIds = brute.map(r => (r.getLong(0), r.getLong(2))).toSet
    val hits = pq.map(r => (r.getLong(0), r.getLong(2))).count(bruteIds.contains)
    val recall = hits.toDouble / bruteIds.size
    info(s"PQ recall@5 with shortlist ${50}: $recall")
    // floor set from the deterministic fixture value (decimal-summed
    // k-means makes it exactly reproducible: 0.76). Unstructured random
    // vectors are PQ's worst case — no subspace structure to quantize —
    // so this is the honest lower end; exactness above is the hard gate,
    // and ann_pq_full_rerank hash-gates the whole path against the oracle.
    assert(recall >= 0.7, s"PQ shortlist-50 recall $recall below floor")
  }

  test("threshold join equals in-memory brute force on the fixture") {
    val got = operators.Similarity.queries("dedup_embedding_threshold")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val vecs = Tables.load(spark, sfDir, "embeddings")
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val want = (for {
      (i, vi) <- vecs; (j, vj) <- vecs
      if i < j && cos(vi, vj) >= operators.Similarity.CosThreshold
    } yield (i, j)).toSet
    assert(want.nonEmpty, "fixture should have pairs above the threshold")
    assert(got == want, s"got=${got.size} want=${want.size}")
  }

  test("cluster_kmeans: total partition, consistent sizes, engine-exact rerun") {
    val run1 = SparkEntry.queries("cluster_kmeans")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    val corpus = Tables.load(spark, sfDir, "embeddings").count()
    assert(run1.length == corpus, "every vector gets exactly one verdict")
    assert(run1.forall(r => r._2 >= 0 && r._2 < 4), "cluster ids in [0, k)")
    assert(run1.forall(_._3 >= 0), "integer distances are non-negative")
    // n_members is the true final-assignment group size, and sizes tile
    // the corpus
    val sizes = run1.groupBy(_._2).map { case (c, m) => c -> m.length.toLong }
    assert(run1.forall(r => sizes(r._2) == r._4), "n_members mismatch")
    assert(sizes.values.sum == corpus)
    assert(sizes.size >= 2, "fixture should actually separate into clusters")
    // the engine-exact claim: integer-space Lloyd has no float drift, so a
    // rerun is bit-identical (this is what lets DuckDB replay it)
    val run2 = SparkEntry.queries("cluster_kmeans")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(run1.sameElements(run2), "quantized k-means must be deterministic")
  }

  test("emb_pca_power tracks a float-precision power iteration") {
    val comp = SparkEntry.queries("emb_pca_power")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(comp.length == 64 && comp.map(_._1).toSeq == (0 until 64),
      "one row per dim, in order")
    // sign canonicalization: the largest-|component| dim is positive,
    // and its unit value is exactly 1.0
    val top = comp.maxBy(c => (math.abs(c._2), -c._1))
    assert(top._2 > 0 && top._3 == 1.0, s"canonical dim: $top")
    assert(comp.forall(c => math.abs(c._3) <= 1.0), "units within [-1,1]")
    // the quantized-integer chain must point where double-precision PCA
    // points: replicate (quantize -> covariance -> v2 = G*(G*1)) in
    // doubles WITHOUT the tdiv floors and compare directions
    val q = Tables.load(spark, sfDir, "embeddings")
      .select("embedding").collect()
      .map(_.getSeq[Float](0).map(x => math.floor(x.toDouble * 1000)).toArray)
    val n = q.length.toDouble
    val d = 64
    val mean = Array.tabulate(d)(i => q.map(_(i)).sum / n)
    val cov = Array.tabulate(d, d) { (i, j) =>
      q.map(v => (v(i) - mean(i)) * (v(j) - mean(j))).sum / n
    }
    val v1 = Array.tabulate(d)(i => cov(i).sum)
    val v2 = Array.tabulate(d)(i =>
      (0 until d).map(j => cov(i)(j) * v1(j)).sum)
    val got = comp.map(_._2.toDouble)
    def unitize(v: Array[Double]): Array[Double] = {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / nrm)
    }
    val cos = unitize(got).zip(unitize(v2)).map { case (a, b) => a * b }.sum
    assert(math.abs(cos) > 0.999,
      s"integer power iteration diverged from float PCA: cos=$cos")
  }

  test("emb_pca_project: top-10 by |projection| matches a driver recompute") {
    val w = SparkEntry.queries("emb_pca_power")(spark, sfDir).collect()
      .map(r => r.getInt(0) -> {
        val c = r.getLong(1); (c - c % 10000L) / 10000L
      }).toMap
    val projs = Tables.load(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").collect()
      .map { r =>
        val q = r.getSeq[Float](1)
          .map(x => math.floor(x.toDouble * 1000).toLong)
        r.getLong(0) -> q.zipWithIndex.map { case (x, i) => x * w(i) }.sum
      }
    val want = projs.sortBy { case (id, p) => (-math.abs(p), id) }.take(10)
    val got = SparkEntry.queries("emb_pca_project")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(got.map(_._1).toSeq == (1 to 10), "ranks 1..10")
    assert(got.map(r => (r._2, r._3)).toSeq == want.toSeq,
      s"got=${got.toSeq}\nwant=${want.toSeq}")
  }

  test("emb_pca rows: cached component table equals a from-zero rebuild exactly") {
    // r13 carried four driver-red rows; two of them read the build-once
    // PCA component table through Scratch. The root cause was an oracle
    // type mismatch, but the stale-cache failure mode stays real: this
    // pins cache == rebuild, repr-exact, by re-running both rows under a
    // fresh scratch root (forcing the Gram pass from zero) and comparing
    // against the shared-root (possibly cached) run.
    val cachedPow = SparkEntry.queries("emb_pca_power")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val cachedProj = SparkEntry.queries("emb_pca_project")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    val saved = spark.conf.getOption("spark.graft.scratch")
    spark.conf.set("spark.graft.scratch", SparkTestSession.tempDir("pca_det"))
    try {
      val freshPow = SparkEntry.queries("emb_pca_power")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      val freshProj = SparkEntry.queries("emb_pca_project")(spark, sfDir)
        .collect().map(_.toSeq).toSeq
      assert(freshPow == cachedPow,
        "emb_pca_power: rebuilt component table diverges from cached")
      assert(freshProj == cachedProj,
        "emb_pca_project: rebuilt projection diverges from cached")
    } finally saved match {
      case Some(v) => spark.conf.set("spark.graft.scratch", v)
      case None => spark.conf.unset("spark.graft.scratch")
    }
  }

  test("dedup_semantic: one min-id keeper per cluster, every planted copy collapses") {
    val rows = SparkEntry.queries("dedup_semantic")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val n = rows.length
    assert(n > 0 && n % 2 == 0, "planted corpus is originals + copies")
    for ((cluster, members) <- rows.groupBy(_._2)) {
      assert(members.map(_._1).min == cluster,
        s"cluster id must be its min member, got $cluster")
      val keepers = members.filter(_._3).map(_._1)
      assert(keepers.toSeq == Seq(cluster),
        s"exactly the min member is kept, got ${keepers.mkString(",")} in $cluster")
    }
    // the LSH tier found every planted pair: original v and its planted
    // copy v+offset must share a cluster, so no member is a singleton and
    // at most half the corpus survives
    val byId = rows.map(r => r._1 -> r._2).toMap
    for ((id, cl) <- byId if id < operators.Similarity.LshCopyOffset)
      assert(byId(id + operators.Similarity.LshCopyOffset) == cl,
        s"copy of $id not co-clustered")
    assert(rows.count(_._3) * 2 <= n, "every cluster must collapse >= 2 docs")
  }

  test("dedup_semantic: over-bound label set degrades to shuffle join, same verdicts") {
    // The r13 verdict's scale caveat: labels are DUPLICATE-sized, and an
    // unconditional broadcast hint on a replica-heavy corpus (30-50% dup
    // in real crawls) is a scale-killer. Force both sides of the checked
    // bound and pin (a) value equality and (b) the over-bound plan
    // actually shuffling instead of broadcasting an unbounded frame.
    import operators.Similarity
    // AQE off + auto-broadcast off for the plan assertions: at fixture
    // scale AQE would (correctly) re-broadcast the tiny shuffle side at
    // runtime, hiding exactly the static hint this test exists to check
    val savedAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val savedThr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val corpus = Similarity.lshCorpus(spark, sfDir).cache()
    try {
      val bcast = Similarity.semanticDedupVerdicts(corpus)
      val shuffled =
        Similarity.semanticDedupVerdicts(corpus, maxBroadcastLabels = 0L)
      val a = bcast.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      val b = shuffled.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
      assert(a == b, "broadcast and shuffle label joins must agree exactly")
      val pb = bcast.queryExecution.executedPlan.toString
      assert(pb.contains("BroadcastHashJoin"),
        s"under-bound labels must broadcast:\n$pb")
      val p = shuffled.queryExecution.executedPlan.toString
      assert(!p.contains("BroadcastHashJoin"),
        s"over-bound labels still broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"no shuffled join in the over-bound plan:\n$p")
    } finally {
      corpus.unpersist(blocking = true)
      spark.conf.set("spark.sql.adaptive.enabled", savedAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", savedThr)
      Caches.releaseAll(spark)
    }
  }

  test("dedup_semantic: exact-dup pre-collapse equals the uncollapsed reference on a replicated corpus") {
    // The SF≈1 canary's shape at spec scale: k identical replicas per
    // vector with disjoint vec_id ranges. The pre-collapse inside
    // semanticDedupVerdicts must be invisible in the OUTPUT — verdicts
    // equal the uncollapsed pipeline (full-corpus LSH pairs → CC →
    // min-label) row for row. This is the equivalence argument in the
    // scaladoc made executable: banding is deterministic in the vector,
    // so rep pairs stand in for member pairs exactly.
    import operators.{Dedup, Similarity}
    // plant duplicate ZERO, NaN, and SUBNORMAL-UNDERFLOW vectors: the
    // zero-norm classes (all-zero AND 1e-200, whose squares underflow so
    // the Σx² norm reads 0.0 exactly as the cosine kernel computes it)
    // never pair in the uncollapsed pipeline — the md5 pre-collapse must
    // not merge them either (ADVICE r15 + the r16 review catch on the
    // underflow class)
    val dim = Similarity.lshCorpus(spark, sfDir)
      .select(size(col("v"))).head().getInt(0)
    val degenerate = spark.range(6).select(
      (col("id") + 900000000L).as("vec_id"),
      when(col("id") < 2, array_repeat(lit(0.0d), dim))
        .when(col("id") < 4, array_repeat(lit(Double.NaN), dim))
        .otherwise(array_repeat(lit(1e-200d), dim)).as("v"))
    val base = Similarity.lshCorpus(spark, sfDir).unionByName(degenerate)
    val step = base.agg(max(col("vec_id"))).head().getLong(0) + 1
    val corpus = base
      .crossJoin(broadcast(spark.range(3).select(col("id").as("rep"))))
      .withColumn("vec_id", col("vec_id") + col("rep") * step)
      .drop("rep").cache()
    try {
      val got = Similarity.semanticDedupVerdicts(corpus).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSeq.sortBy(_._1)
      val pairs = Similarity
        .hyperplaneLshPairs(corpus, Similarity.LshThreshold)
        .select(col("vec_a"), col("vec_b"))
      val labels = Dedup.connectedComponents(pairs, maxRounds = 20)
        .select(col("node").as("vec_id"), col("label"))
      val want = corpus.select(col("vec_id"))
        .join(labels, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("label"), col("vec_id")).as("cluster"),
          (coalesce(col("label"), col("vec_id")) === col("vec_id")).as("kept"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
        .toSeq.sortBy(_._1)
      assert(got.size == want.size, s"${got.size} vs ${want.size} verdicts")
      assert(got == want,
        "collapsed and uncollapsed semantic-dedup verdicts diverge")
      // the planted ZERO vectors (2 × 3 replicas) must each stay their
      // own singleton keeper: cosine() maps zero-norm inputs to 0.0, so
      // the uncollapsed pipeline never pairs them — a collapse that
      // merged them would label members with a rep's cluster id. The NaN
      // vectors are NOT asserted singleton: under Spark SQL ordering NaN
      // compares greater than any number, so `cosine >= t` holds for
      // NaN-poisoned verify scores and NaN vectors attach to whatever
      // they band-collide with — identically in both pipelines, which
      // the got==want equality above already pins.
      val zeroIds = (for {
        id <- Seq(900000000L, 900000001L, 900000004L, 900000005L)
        r <- 0L to 2L
      } yield id + r * step).toSet
      val zeroGot = got.filter(t => zeroIds(t._1))
      assert(zeroGot.size == 12 &&
        zeroGot.forall(t => t._3 && t._2 == t._1),
        s"zero-norm vectors must stay singleton keepers: $zeroGot")
      // every replica group of DEFINED vectors collapsed onto one keeper:
      // survivors are at most one per distinct defined vector plus the
      // 18 never-collapsed degenerates
      assert(got.count(_._3) <= base.count() - 6 + 18,
        "replicas not collapsed — more keepers than distinct vectors")
    } finally {
      corpus.unpersist(blocking = true)
      Caches.releaseAll(spark)
    }
  }

  test("pipeline_semdedup: collapse equals the uncollapsed greedy rule on a replicated corpus") {
    // SemDeDup's rep-collapse made executable: on a 3×-replicated corpus
    // the member-expansion path (never exercised at sf0.01, where every
    // vector is distinct) must reproduce the UNCOLLAPSED greedy funnel —
    // b drops iff any a < b in its cluster has cos >= t over the FULL
    // corpus — cluster for cluster.
    import operators.Similarity
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    val base = Similarity.lshCorpus(spark, sfDir)
    val step = base.agg(max(col("vec_id"))).head().getLong(0) + 1
    val corpus = base
      .crossJoin(broadcast(spark.range(3).select(col("id").as("rep"))))
      .withColumn("vec_id", col("vec_id") + col("rep") * step)
      .drop("rep").cache()
    try {
      val got = Similarity.semdedupFunnel(corpus).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      val qv = corpus.select(col("vec_id"),
        transform(col("v"), x => floor(x * lit(Similarity.KmScale))).as("q"))
      val cents = Similarity.kmFit(qv)
      val assigned = Similarity.kmAssign(qv, cents)
        .select(col("vec_id"), col("cluster"))
      val withV = corpus.join(assigned, Seq("vec_id"))
      val lhs = withV.select(col("cluster"), col("vec_id").as("ida"),
        col("v").as("va"))
      val rhs = withV.select(col("cluster"), col("vec_id").as("idb"),
        col("v").as("vb"))
      val dropped = lhs.join(rhs, Seq("cluster"))
        .filter(col("ida") < col("idb"))
        .filter(GraftFunctions.cosine_sim(col("va"), col("vb"))
          >= Similarity.LshThreshold)
        .select(col("idb").as("vec_id")).distinct()
        .withColumn("dd", lit(true))
      val want = assigned.join(dropped, Seq("vec_id"), "left")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("dd"), 1L).otherwise(0L)).as("n_dropped"))
        .select(col("cluster"), col("n_members"), col("n_dropped"),
          (col("n_members") - col("n_dropped")).as("n_kept"))
        .orderBy(col("cluster")).collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got == want, s"collapsed funnel diverges:\n$got\nvs\n$want")
      // the replicas and planted copies actually dedup: every original
      // keeps at most one survivor out of its 6 variants (3 replicas ×
      // {base, planted copy}), so at least 2/3 of the corpus drops
      val n = corpus.count()
      assert(got.map(_._3).sum >= n * 2 / 3,
        s"only ${got.map(_._3).sum} of $n dropped — replicas not deduped")
      assert(got.map(_._2).sum == n, "funnel members must cover the corpus")
    } finally {
      corpus.unpersist(blocking = true)
      Caches.releaseAll(spark)
    }
  }

  test("broadcast argmax assignment at k=64 equals the literal path exactly") {
    import operators.Similarity
    // k=64 is above AssignLiteralMaxK, so production dispatch (kmeans,
    // index build) takes the broadcast path there — this pins both paths
    // to identical assignments, tie-breaks included
    assert(Similarity.AssignLiteralMaxK < 64)
    val e = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = Similarity.kmeansCentroids(e, 64, 2)
    assert(cents.size == 64)
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    val viaLiteral = asMap(Similarity.assignByLiteral(e, cents))
    val viaBroadcast = asMap(Similarity.assignByBroadcast(e, cents))
    assert(viaLiteral.size == viaBroadcast.size)
    val diffs = viaLiteral.collect {
      case (id, c) if viaBroadcast(id) != c => (id, c, viaBroadcast(id))
    }
    assert(diffs.isEmpty, s"paths diverge on ${diffs.size} vectors: ${diffs.take(3)}")
    // with 64 cells over 500 vectors, a correct argmax spreads assignments
    assert(viaLiteral.values.toSet.size > 32, "degenerate assignment spread")
  }

  test("hyperplane LSH on planted near-dups: full recall, candidates << n^2") {
    import operators.Similarity
    val corpus = Similarity.lshCorpus(spark, sfDir).cache()
    try {
      val vecs = corpus.collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      val n = vecs.length.toLong
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i)*b(i); na += a(i)*a(i); nb += b(i)*b(i); i += 1 }
        d / math.sqrt(na * nb)
      }
      val want = (for {
        (i, vi) <- vecs; (j, vj) <- vecs
        if i < j && cos(vi, vj) >= Similarity.LshThreshold
      } yield (i, j)).toSet
      // the planted geometry: every vector got one ~cos-0.99 copy, and no
      // cross pair comes near the threshold (fixture max base cos ≈ 0.51)
      assert(want.size == vecs.length / 2,
        s"planting broke: ${want.size} true pairs for ${vecs.length} vectors")

      val got = Similarity.hyperplaneLshPairs(corpus, Similarity.LshThreshold)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == want,
        s"LSH missed ${(want -- got).size} / found ${(got -- want).size} spurious")

      val cand = Similarity.hyperplaneCandidates(corpus).count()
      val allPairs = n * (n - 1) / 2
      info(s"candidates $cand of $allPairs pairs (${100.0 * cand / allPairs}%)")
      assert(cand < allPairs / 20,
        s"banding admitted $cand of $allPairs pairs — not sub-quadratic")
    } finally corpus.unpersist(blocking = true)
  }

  test("threshold join on planted clusters: exact result, real cap pruning") {
    // deterministic clustered corpus: 8 gaussian centers, tight points ⇒
    // intra-cluster cos ≈ 0.99, inter ≲ 0.5 — the regime the operator is
    // built for; cap bounds must prune most of the k(k+1)/2 cell pairs
    val rnd = new scala.util.Random(42)
    val dim = 32
    val centers = Array.fill(8)(Array.fill(dim)(rnd.nextGaussian()))
    val vecs = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val dir = SparkTestSession.tempDir("graft_planted")
    spark.createDataFrame(vecs).toDF("vec_id", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val t = 0.9
    val got = operators.Similarity.embeddingThresholdPairs(spark, dir, t)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val arr = vecs.map { case (id, v) => (id, v.map(_.toDouble).toArray) }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val want = (for {
      (i, vi) <- arr; (j, vj) <- arr if i < j && cos(vi, vj) >= t
    } yield (i, j)).toSet
    assert(want.size > 1000, s"planted clusters too loose: ${want.size} pairs")
    assert(got == want, s"got=${got.size} want=${want.size}")

    val idx = operators.Similarity.buildIvfIndex(spark, dir)
    val (keptPairs, total) = operators.Similarity.prunedCellPairs(idx.centroids, t)
    info(s"cap pruning kept ${keptPairs.size}/$total cell pairs")
    assert(keptPairs.size < total / 2,
      s"pruning ineffective on clustered data: ${keptPairs.size}/$total")

    // on success, drop the per-run temp fixture and its scratch index so
    // repeated runs don't accumulate dirs (kept on failure for debugging)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete()
    }
    rm(new java.io.File(operators.Similarity.indexDir(spark, dir)))
    rm(new java.io.File(dir))
  }
}

class StreamingSpec extends AnyFunSuite {
  import SparkTestSession._

  test("windowed aggregation: streaming result equals batch result") {
    val batch = streaming.Streaming.queries("stream_window_agg")(spark, sfDir)
      .collect().map(_.toSeq.toList).sortBy(_.toString)

    val stream = streaming.Streaming.windowAgg(
      streaming.Streaming.readEventStream(spark, sfDir)
        .withWatermark("ts", "1 minute"))
    val q = stream.writeStream
      .format("memory").queryName("win_out").outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("win_out")
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toList == batch.toList)
  }

  test("custom-state row exercises BOTH emission paths; timeout region non-vacuous") {
    // A user whose LAST event precedes the cutoff has a final session no
    // successor event can ever close — it can only be emitted by the
    // event-time TIMEOUT. The fixture must contain such users (else the
    // timeout path is gated vacuously), and for each one the row must
    // emit their complete session set (inline-closed sessions AND the
    // timed-out final one), matching the batch gaps-and-islands answer.
    val ev = streaming.Streaming.events(spark, sfDir)
      .filter(col("user_id") < 20).select(col("user_id"), col("ts"))
    val globalMax = ev.agg(max(col("ts"))).head.getTimestamp(0)
    val cutoff = new java.sql.Timestamp(globalMax.getTime - 32L * 60 * 1000)
    val timeoutUsers = ev.groupBy(col("user_id"))
      .agg(max(col("ts")).as("m")).filter(col("m") <= lit(cutoff))
      .collect().map(_.getLong(0)).toSet
    assert(timeoutUsers.nonEmpty,
      "fixture must contain users whose final session only a timeout can emit")
    val got = SparkEntry.queries("stream_exec_custom_state")(spark, sfDir)
      .collect().filter(r => timeoutUsers(r.getLong(0)))
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    val want = SparkEntry.queries("stream_session_agg")(spark, sfDir)
      .collect().filter(r => timeoutUsers(r.getLong(0)))
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2))).toSet
    assert(got == want,
      s"timeout-region users must emit their full session set (${got.size} vs ${want.size})")
  }

  test("stream_exec_multi_batch: >=4 rate-limited batches accumulate to the batch answer") {
    val metrics = RowMetrics.attach(spark)
    try {
      val got = SparkEntry.queries("stream_exec_multi_batch")(spark, sfDir)
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val want = SparkEntry.queries("stream_window_agg")(spark, sfDir)
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(got == want, s"incremental drain diverged: ${got.size} vs ${want.size}")
      val bs = metrics.take().batches.filter(_.query == "graft_exec_multi")
        .map(b => (b.id, b.inputRows))
      assert(bs.size >= 4, s"expected >=4 rate-limited batches, saw $bs")
      assert(bs.count(_._2 > 0) >= 2,
        s"rows must arrive incrementally across batches, saw $bs")
    } finally metrics.close()
  }

  test("stateful exec rows return identical rows at state widths 1 and 8") {
    // results must not depend on the state-store count (stateParts):
    // each width runs in its own child session, so the conf never
    // touches the shared one
    def rowsAt(width: Int, row: String): Seq[String] = {
      val child = spark.newSession()
      child.conf.set("spark.graft.stream.statePartitions", width.toString)
      SparkEntry.queries(row)(child, sfDir).collect().map(_.toString)
        .toSeq.sorted
    }
    for (row <- Seq("stream_exec_window_agg", "stream_exec_dedup",
                    "stream_exec_interval_join",
                    "stream_exec_interval_join_outer",
                    "stream_exec_custom_state")) {
      val one = rowsAt(1, row)
      assert(one.nonEmpty, s"$row returned no rows")
      assert(one == rowsAt(8, row), s"$row differs between widths 1 and 8")
    }
  }

  test("dedup and inner join run one micro-batch; the outer join's eviction batch shrinks state") {
    val metrics = RowMetrics.attach(spark)
    val byName = try {
      for (row <- Seq("stream_exec_dedup", "stream_exec_interval_join",
                      "stream_exec_interval_join_outer"))
        SparkEntry.queries(row)(spark, sfDir).collect()
      metrics.take().batches.groupBy(_.query)
        .map { case (n, bs) => n -> bs.sortBy(_.id) }
    } finally metrics.close()
    def batches(n: String) = byName.getOrElse(n, Nil)
    assert(batches("graft_exec_dedup").size == 1,
      s"dedup batches: ${batches("graft_exec_dedup").map(_.id)}")
    assert(batches("graft_exec_ssj").size == 1,
      s"inner join batches: ${batches("graft_exec_ssj").map(_.id)}")
    // the outer row still runs the watermark-only batch, and it EVICTS:
    // the watermark bounds the join state
    val outer = batches("graft_exec_ssj_outer")
    assert(outer.size >= 2, s"outer join batches: ${outer.map(_.id)}")
    assert(outer.last.stateRows < outer.head.stateRows,
      s"state rows per batch: ${outer.map(_.stateRows)}")
  }

  test("stream_exec_anomaly equals the batch verdicts on the emitted region") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("stream_exec_anomaly")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getBoolean(3)))).toMap
    val ev = streaming.Streaming.events(spark, sfDir)
      .filter(col("user_id") < 50)
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val cutoffUs = maxUs - 2L * 60 * 1000000L
    // the batch row computes per-user windows, so restricting users and
    // the emitted region afterwards changes nothing about the verdicts
    val want = SparkEntry.queries("events_anomaly")(spark, sfDir)
      .join(ev.select(col("event_id"), unix_micros(col("ts")).as("us")),
        Seq("event_id"))
      .filter(col("us") <= cutoffUs)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(2), r.getBoolean(4)))).toMap
    assert(got.nonEmpty && got == want,
      s"streamed verdicts diverged: got=${got.size} want=${want.size}")
  }

  test("ckpt_restart: recovery spans two runs, output equals the batch cutoff") {
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("stream_exec_ckpt_restart")(spark, sfDir)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // local batch recompute under the same provably-finalized cutoff
    val ev = streaming.Streaming.events(spark, sfDir)
    val maxUs = ev.agg(max(unix_micros(col("ts")))).head.getLong(0)
    val cutoffUs = maxUs - (10 * 60 + 61) * 1000000L
    val want = streaming.Streaming.windowAgg(ev)
      .filter(unix_micros(col("window_start")) + 3600L * 1000000L <= cutoffUs)
      .collect()
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(got.nonEmpty, "finalized region must be non-empty")
    // the one checkpoint must hold commits from BOTH runs: a single
    // AvailableNow run is 2 batches (data + watermark flush), so >= 3
    // committed batches proves run 2 resumed the same checkpoint instead
    // of starting over (starting over would also double-emit and fail
    // the equality above)
    val commits = new java.io.File(
      s"${streaming.Streaming.ckptRoot(spark, sfDir)}/ckpt/commits")
      .listFiles().count(f => f.getName.forall(_.isDigit))
    assert(commits >= 3, s"expected commits from both runs, saw $commits")
  }

  test("transformWithState session row matches the fMGWS machine; timer path non-vacuous") {
    // Same non-vacuity contract as the fMGWS spec — users whose final
    // session only an EXPIRED TIMER can emit must exist and be complete —
    // plus full-output equality between the two API generations: the
    // StatefulProcessor (named state + registered timers, RocksDB store)
    // and flatMapGroupsWithState must agree row-for-row.
    val ev = streaming.Streaming.events(spark, sfDir)
      .filter(col("user_id") < 20).select(col("user_id"), col("ts"))
    val globalMax = ev.agg(max(col("ts"))).head.getTimestamp(0)
    val cutoff = new java.sql.Timestamp(globalMax.getTime - 32L * 60 * 1000)
    val timerUsers = ev.groupBy(col("user_id"))
      .agg(max(col("ts")).as("m")).filter(col("m") <= lit(cutoff))
      .collect().map(_.getLong(0)).toSet
    assert(timerUsers.nonEmpty,
      "fixture must contain users whose final session only a timer can emit")
    def rows(name: String) = SparkEntry.queries(name)(spark, sfDir)
      .collect().map(_.toSeq.toList).toSet
    val tws = rows("stream_exec_tws_session")
    assert(tws == rows("stream_exec_custom_state"),
      "transformWithState and flatMapGroupsWithState machines must agree")
    assert(tws.exists(r => timerUsers(r.head.asInstanceOf[Long])),
      "timer-emitted region must be present in the tws output")
  }

  test("typed flatMapGroups sessionization equals the session_window answer") {
    // three implementations of one semantic — session_window aggregate,
    // typed flatMapGroups (this row), and the SQL oracle — must agree;
    // here the two Spark paths are compared row-for-row directly
    def rows(name: String) = SparkEntry.queries(name)(spark, sfDir)
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList
    val typed = rows("sessionize_typed")
    assert(typed.nonEmpty)
    assert(typed == rows("stream_session_agg"),
      "flatMapGroups and session_window must produce identical sessions")
  }

  test("foreachBatch writer is idempotent per batchId: a replay changes nothing") {
    // run the row once (drains the source through the batchId-keyed
    // writer), snapshot the aggregate, then re-fire batch 0's writer
    // with the exact content the source offered it — the failure-replay
    // scenario. Overwrite-per-batchId must leave the output IDENTICAL;
    // an append-style writer would double batch 0's rows.
    val row = SparkEntry.queries("stream_exec_foreach_batch")(spark, sfDir)
    val before = row.collect().map(_.toSeq.toList).toList
    val out = streaming.Streaming.foreachBatchOut(spark)
    val dir0 = s"$out/batch_id=0"
    assert(new java.io.File(dir0).isDirectory, "batch 0 partition must exist")
    val schema = spark.read.parquet(dir0).schema
    val content0 = spark.read.parquet(dir0).collect().toSeq
    streaming.Streaming.foreachBatchWriter(out)(
      spark.createDataFrame(
        spark.sparkContext.parallelize(content0, 2), schema), 0L)
    val after = spark.read.parquet(out)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double")
          .as("sum_value"))
      .orderBy(col("event_type"))
      .collect().map(_.toSeq.toList).toList
    assert(after == before, "replaying batch 0 must not change the output")
  }

  test("pipeline_streaming_ingest: 4 drops, per-batch dedup state consulted, replay idempotent") {
    import org.apache.spark.sql.functions._
    // sf0.01: the sf0.001 slice has too few planted near-dup pairs to
    // guarantee a cross-batch drop, which would make assert (b) vacuous
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("pipeline_streaming_ingest")(spark, dir)
      .collect()
    // (a) all four crawl drops ran as their own micro-batch (the
    // maxFilesPerTrigger=1 contract) and each contributed survivors
    val perBatch = got.groupBy(_.getLong(3)).view.mapValues(_.length).toMap
    assert(perBatch.keySet == Set(0L, 1L, 2L, 3L),
      s"expected 4 ingest batches, saw $perBatch")
    assert(perBatch.values.forall(_ > 0), s"empty batch in $perBatch")
    // (b) the batch-vs-corpus dedup probe actually dropped documents:
    // accepted < quality survivors (the funnel replayed in batch mode)
    val quality = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        functions.GraftFunctions.html_extract(
          operators.TextAnalysis.htmlPageExpr)
          .getField("text_clean").as("text"))
      .filter(operators.TextAnalysis.qualityPred)
      .count()
    assert(got.length < quality,
      s"dedup dropped nothing: accepted=${got.length} quality=$quality — " +
        "the per-batch corpus probe was never consulted")
    // (c) replay idempotence: re-fire batch 2 with the exact crawl slice
    // the source offered it (the failure-replay scenario); the
    // overwrite-per-batchId contract must leave the corpus IDENTICAL
    val root = streaming.Streaming.ingestRoot(spark, dir)
    val before = spark.read.parquet(s"$root/accepted")
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList
    val slice2 = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .filter(pmod(col("doc_id"), lit(streaming.Streaming.IngestBatches))
        === 2)
    streaming.Streaming.ingestOneBatch(
      s"$root/accepted", s"$root/bands")(slice2, 2L)
    val after = spark.read.parquet(s"$root/accepted")
      .collect().map(_.toSeq.toList).sortBy(_.toString).toList
    assert(after == before, "replaying batch 2 must not change the corpus")
    // (d) the order guard fails loudly on a mis-sequenced drop
    val e = intercept[IllegalArgumentException] {
      streaming.Streaming.ingestOneBatch(
        s"$root/accepted", s"$root/bands")(slice2, 1L)
    }
    assert(e.getMessage.contains("one-drop-per-batch"))
  }

  test("streaming ingest: kill-and-restart resumes offsets, corpus identical") {
    // the exactly-once claim exercised across a REAL restart, the same
    // drill stream_exec_ckpt_restart runs for windowed state: drops 0-1
    // land and run 1 drains them (a planned shutdown), drops 2-3 land,
    // run 2 starts fresh from the same checkpoint. Resume-not-replay is
    // doubly gated: re-offered early drops would shift batchIds and trip
    // the order guard, and the final corpus must equal the uninterrupted
    // single-run result row for row.
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.01"
    val whole = SparkEntry.queries("pipeline_streaming_ingest")(spark, dir)
      .collect().map(_.toSeq.toList).toList
    val src = streaming.Streaming.ensureIngestSrc(spark, dir)
    val root = tempDir("ingest_restart")
    val staged = s"$root/src"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staged))
    def land(b: Int): Unit = {
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$src/batch-$b.parquet"),
        java.nio.file.Paths.get(s"$staged/batch-$b.parquet"),
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES): Unit
    }
    def runIngest(): Unit = {
      val schema = spark.read.parquet(staged).schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(staged)
        .withWatermark("crawl_ts", "1 hour")
        .writeStream
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch(streaming.Streaming.ingestOneBatch(
          s"$root/accepted", s"$root/bands") _)
        .start()
      assert(q.awaitTermination(300000), "ingest run did not self-terminate")
    }
    land(0); land(1)
    runIngest() // run 1 drains drops 0-1, then the planned shutdown
    val afterRun1 = spark.read.parquet(s"$root/accepted")
      .select(col("ingest_batch")).distinct()
      .collect().map(_.getInt(0)).toSet
    assert(afterRun1 == Set(0, 1), s"run 1 must land drops 0-1: $afterRun1")
    land(2); land(3)
    runIngest() // run 2: recovery — offsets resume at drop 2
    val restarted = spark.read.parquet(s"$root/accepted")
      .select(col("doc_id"), col("source"), col("n_words"),
        col("ingest_batch").cast("long").as("ingest_batch"))
      .orderBy(col("doc_id"))
      .collect().map(_.toSeq.toList).toList
    assert(restarted == whole,
      "the restarted corpus must equal the uninterrupted run's")
  }

  test("Trigger.AvailableNow backfills all existing data then stops on its own") {
    // the operational backfill mode: process everything that currently
    // exists in bounded micro-batches, then self-terminate — a catch-up
    // job needing no external stop signal (processAllAvailable is a
    // test-harness call on a forever-running query; AvailableNow is what
    // a scheduled 100 TB backfill actually ships with)
    import org.apache.spark.sql.streaming.Trigger
    val batch = streaming.Streaming.queries("stream_window_agg")(spark, sfDir)
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    val stream = streaming.Streaming.windowAgg(
      streaming.Streaming.readEventStream(spark, sfDir)
        .withWatermark("ts", "1 minute"))
    val q = stream.writeStream.format("memory").queryName("an_out")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    val finished = q.awaitTermination(120000)
    assert(finished, "AvailableNow query did not self-terminate within 120s")
    val streamed = spark.table("an_out")
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    assert(streamed.toList == batch.toList)
  }

  test("checkpointed file-source query resumes without reprocessing") {
    // exactly-once at the source: a restarted query sharing the same
    // checkpoint continues from the recorded offsets, so a second run
    // over an unchanged directory emits ZERO rows instead of
    // re-appending the corpus — the property that makes a crashed 100 TB
    // ingestion restartable instead of double-counting
    import org.apache.spark.sql.streaming.Trigger
    val base = SparkTestSession.tempDir("graft_ckpt")
    // the memory sink cannot recover from a checkpoint — the durable
    // parquet sink is the one a real ingestion uses anyway
    def run(): Long = {
      val st = streaming.Streaming.readEventStream(spark, sfDir)
        .filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"))
      val q = st.writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(120000), "query did not terminate")
      spark.read.parquet(s"$base/out").count()
    }
    val first = run()
    assert(first > 0)
    val second = run() // same checkpoint, unchanged source
    assert(second == first,
      s"restart reprocessed rows: $first -> $second despite the checkpoint")
  }

  test("stream-stream interval join equals the batch range join") {
    // the watermarked stream-stream form of join_range: same interval
    // semantics, state-bounded by the watermarks — proves the engine's
    // range join has a streaming execution path, not just a batch one
    val ev = streaming.Streaming.readEventStream(spark, sfDir)
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
    val q = joined.writeStream
      .format("memory").queryName("ssj_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssj_out")
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    val batch = SparkEntry.queries("join_range")(spark, sfDir)
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toList == batch.toList)
  }

  test("stream-static dimension join equals batch (broadcast enrich)") {
    // the standard streaming-enrichment shape: an unbounded event stream
    // joined to a static broadcast dimension — no state store involved,
    // the dim hash relation is reused across micro-batches
    val dim = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    def enrich(ev: org.apache.spark.sql.DataFrame) = ev
      .join(org.apache.spark.sql.functions.broadcast(dim),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      // long-typed aggregates: exact equality regardless of micro-batch
      // accumulation order (a double sum would be order-sensitive)
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_ids"))
    val batch = enrich(streaming.Streaming.events(spark, sfDir))
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    val q = enrich(streaming.Streaming.readEventStream(spark, sfDir))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("complete").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("enrich_out")
      .collect().map(_.toSeq.toList).sortBy(_.toString)
    assert(streamed.nonEmpty)
    assert(streamed.toList == batch.toList)
  }

  test("stream-static join adds NO state operator (stateless enrichment)") {
    // the scale property behind stream_exec_static_join: enrichment joins
    // carry no state store at all — only the downstream aggregate does.
    // A stream-stream join here would show a symmetric-hash-join state
    // operator and watermark-bounded row counts instead.
    val dim = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val joined = streaming.Streaming.readEventStream(spark, sfDir)
      .join(org.apache.spark.sql.functions.broadcast(dim),
        col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n"))
    val q = joined.writeStream.format("memory").queryName("static_state")
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try {
      assert(q.awaitTermination(300000))
      val ops = q.lastProgress.stateOperators
      assert(ops.length == 1,
        s"expected only the aggregate's state operator, got ${ops.length}")
      assert(ops(0).operatorName.contains("stateStoreSave"),
        s"unexpected state operator: ${ops(0).operatorName}")
    } finally q.stop()
  }

  test("streaming dedup (dropDuplicatesWithinWatermark) matches batch distinct") {
    val ev = streaming.Streaming.readEventStream(spark, sfDir)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withWatermark("ts", "1 hour")
    val dd = ev.dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
    val q = dd.writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("dedup_out")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    // which representative row survives is arrival-dependent; the KEY SET
    // must equal batch distinct exactly, with no duplicate emissions
    assert(streamed.length == streamed.toSet.size, "duplicate keys emitted")
    val batch = streaming.Streaming.events(spark, sfDir)
      .select(col("user_id"), col("event_type")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed.toSet == batch)
  }

  test("streaming session windows MERGE when a bridging event arrives later") {
    // the distinctive session-window state shape: windows are per-key
    // interval sets, and a late event can BRIDGE two open sessions into
    // one — fixed tumbling/sliding buckets can never do this. Two events
    // 50 minutes apart (gap 30m) open two sessions; a third event between
    // them arrives in a LATER micro-batch and must collapse the state to
    // a single merged session spanning all three.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val sessions = mem.toDF().toDF("ts", "user_id")
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("s"), col("w.end").as("e"),
        col("n"))
    val q = sessions.writeStream.format("memory").queryName("sess_merge")
      .outputMode("complete").start()
    def ts(min: Int) = new java.sql.Timestamp(min * 60000L)
    try {
      mem.addData((ts(0), 1L), (ts(50), 1L))
      q.processAllAvailable()
      assert(spark.table("sess_merge").count() == 2,
        "events 50m apart with a 30m gap must open two sessions")
      mem.addData((ts(25), 1L)) // bridges: 0→25 is 25m, 25→50 is 25m
      q.processAllAvailable()
      val rows = spark.table("sess_merge").collect()
      assert(rows.length == 1, s"sessions did not merge: ${rows.toList}")
      assert(rows(0).getAs[Long]("n") == 3)
      assert(rows(0).getAs[java.sql.Timestamp]("s") == ts(0))
      assert(rows(0).getAs[java.sql.Timestamp]("e") == ts(80)) // 50m + 30m gap
    } finally q.stop()
  }

  test("stateful sessionization with flatMapGroupsWithState matches session_window") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

    val ev = streaming.Streaming.events(spark, sfDir)
      .filter(col("user_id") < 20)
      .select(col("user_id"), col("ts").cast("long").as("tsec"))
      .as[(Long, Long)]

    val gapSec = 30L * 60
    // batch-mode flatMapGroupsWithState: one pass per user, count sessions
    val counted = ev.groupByKey(_._1).flatMapGroupsWithState[Long, (Long, Long)](
      org.apache.spark.sql.streaming.OutputMode.Append,
      GroupStateTimeout.NoTimeout) {
      (uid: Long, rows: Iterator[(Long, Long)], _: GroupState[Long]) =>
        val ts = rows.map(_._2).toArray.sorted
        var sessions = if (ts.isEmpty) 0L else 1L
        ts.zip(ts.tail).foreach { case (a, b) => if (b - a >= gapSec) sessions += 1 }
        Iterator.single((uid, sessions))
    }.collect().toMap

    val viaWindow = streaming.Streaming.queries("stream_session_agg")(spark, sfDir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counted == viaWindow)
  }
}

class TextPipelineSpec extends AnyFunSuite {
  import SparkTestSession._

  private def mkNorm(t: String): Array[String] =
    t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ")

  test("text_novelty equals a local first-occurrence replay") {
    import org.apache.spark.sql.functions.col
    val corpus = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val grams = corpus.map { case (id, t) =>
      val w = mkNorm(t)
      id -> w.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val first = grams.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
    val want = grams.map { case (id, gs) =>
      val novel = gs.count(g => first(g) == id)
      (id, gs.size.toLong, novel.toLong,
        BigDecimal(1.0 * novel / gs.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1).toSeq
    val got = operators.TextAnalysis.queries("text_novelty")(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(want.nonEmpty, "no >=3-word documents at this SF")
    assert(got == want, s"novelty diverges from replay (got ${got.size}, " +
      s"want ${want.size})")
  }

  test("text_novelty_curve equals a local decile replay") {
    import org.apache.spark.sql.functions.col
    val corpus = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = corpus.map(_._1).max + 1
    val grams = corpus.map { case (id, t) =>
      val dec = math.min(9L, id * 10 / n).toInt
      dec -> mkNorm(t).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    }.filter(_._2.nonEmpty)
    val firstDec = grams.flatMap { case (dec, gs) => gs.map(_ -> dec) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).min }
    val occ = grams.groupBy(_._1).map { case (d, xs) =>
      d -> xs.map(_._2.size.toLong).sum }
    val nw = firstDec.values.groupBy(identity)
      .map { case (d, xs) => d -> xs.size.toLong }
    val want = occ.toSeq.map { case (d, o) =>
      val w = nw.getOrElse(d, 0L)
      (d, o, w, BigDecimal(1.0 * w / o)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy(_._1)
    val got = operators.TextAnalysis.queries("text_novelty_curve")(spark, sfDir)
      .collect().map(r =>
        (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got == want, s"novelty curve diverges:\n$got\n$want")
  }

  test("join_fuzzy_best reduces the pair set to the per-left best match") {
    val pairs = operators.Dedup.queries("join_fuzzy")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = pairs.groupBy(_._1).map { case (a, xs) =>
      val best = xs.maxBy(x => (x._3, -x._2))
      (a, best._2, best._3, xs.length.toLong)
    }.toSeq.sortBy(_._1)
    val got = operators.Dedup.queries("join_fuzzy_best")(spark, sfDir)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(want.nonEmpty, "no fuzzy pairs at this SF")
    assert(got == want, s"best-match diverges:\n$got\n$want")
  }

  test("bm25TopK equals the local mirror on randomized corpora (zero-tf, ties, tiny N)") {
    // seeded random corpora over a tiny vocab force the edge cases the
    // fixture can't: docs with zero query-term hits (score exactly 0),
    // identical docs (score ties broken by doc_id), single-doc corpora
    // (idf = 0.5/0.5 when the one doc contains the term)
    val rnd = new scala.util.Random(42)
    val vocab = Vector("a", "b", "c", "dd", "ee")
    val terms = Seq("a", "dd")
    for (trial <- 1 to 5) {
      val nDocs = 1 + rnd.nextInt(12)
      val corpus = (0L until nDocs).map { id =>
        val words = Vector.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size)))
        (id, words.mkString(" "))
      }
      import spark.implicits._
      val df = corpus.toDF("doc_id", "text")
      val got = operators.TextAnalysis.bm25TopK(df, terms, nDocs)
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(3))).toSeq
      // local mirror with the operator's exact association order
      val n = nDocs.toDouble
      val toks = corpus.map { case (id, t) => id -> t.split(" ") }
      val sumlen = toks.map(_._2.length.toLong).sum.toDouble
      val dfs = terms.map(t => toks.count(_._2.contains(t)).toDouble)
      val want = toks.map { case (id, ws) =>
        val norm = 0.25 + 0.75 * (ws.length.toDouble / (sumlen / n))
        val s = terms.zip(dfs).map { case (t, dft) =>
          val tf = ws.count(_ == t).toDouble
          ((n - dft) + 0.5) / (dft + 0.5) * ((tf * 2.5) / (tf + 1.5 * norm))
        }.reduceLeft(_ + _)
        (id, ws.length.toLong, s)
      }.sortBy { case (id, _, s) => (-s, id) }
        .zipWithIndex.map { case ((id, len, s), i) =>
          (i + 1, id, math.rint(s * 1e6) / 1e6)
        }
      assert(got == want, s"trial $trial (n=$nDocs): got=$got\nwant=$want")
    }
  }

  test("text_bm25_topk equals a local exact recompute; top-k is TakeOrdered") {
    // replicate the rational-BM25 arithmetic step for step (same
    // association order as the operator and the oracle)
    val raw = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> mkNorm(r.getString(1))).toMap
    val terms = Seq("vector", "customer", "stream")
    val n = raw.size.toDouble
    val sumlen = raw.values.map(_.length.toLong).sum.toDouble
    val dfs = terms.map(t => raw.values.count(_.contains(t)).toDouble)
    def score(ws: Array[String]): Double = {
      val norm = 0.25 + 0.75 * (ws.length.toDouble / (sumlen / n))
      terms.zip(dfs).map { case (t, df) =>
        val tf = ws.count(_ == t).toDouble
        ((n - df) + 0.5) / (df + 0.5) * ((tf * 2.5) / (tf + 1.5 * norm))
      }.reduceLeft(_ + _)
    }
    val want = raw.toSeq.map { case (id, ws) => (id, score(ws)) }
      .sortBy { case (id, s) => (-s, id) }.take(20)
      .zipWithIndex.map { case ((id, s), i) =>
        (i + 1, id, math.rint(s * 1e6) / 1e6)
      }
    val df = SparkEntry.queries("text_bm25_topk")(spark, sfDir)
    val got = df.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getDouble(3))).toSeq
    assert(got == want, s"got=${got.take(3)}…\nwant=${want.take(3)}…")
    // scale shape: the top-k must be a TakeOrdered, not a global sort of
    // scored rows, and the 1-row stats frame must broadcast
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k is not TakeOrdered:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"corpus stats not broadcast:\n$p")
  }

  private def md5hex(t: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("text_unigram_train matches a naive local EM replay on random dicts") {
    // scalacheck-generated word dicts, fixed seeds for reproducibility;
    // each sample runs the full distributed trainer, so 5 samples (not
    // the default 100) keep the suite's wall time sane
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val wordGen = Gen.choose(1, 10)
      .flatMap(n => Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))
    val dictGen = for {
      ws <- Gen.listOfN(8, wordGen)
      fs <- Gen.listOfN(8, Gen.choose(1L, 50L))
    } yield ws.zip(fs).groupBy(_._1).view.mapValues(_.map(_._2).sum)
      .toSeq.sortBy(_._1)

    def naive(words: Seq[(String, Long)]): Seq[(String, Long)] = {
      val MaxTok = 4
      val seeds = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for ((w, f) <- words; l <- 1 to MaxTok; i <- 0 to w.length - l)
        seeds(w.substring(i, i + l)) += f
      val chars = seeds.keys.filter(_.length == 1).toSeq.sorted
      var vocab: Map[String, Long] = seeds.toMap
      for (k <- Seq(24, 16, 12)) {
        def seg(w: String): Seq[String] = {
          val best = new Array[(Int, Long, String)](w.length + 1)
          best(0) = (0, 0L, "")
          for (i <- 1 to w.length) {
            var b: (Int, Long, String) = null
            for (j <- math.max(0, i - MaxTok) until i) {
              val tok = w.substring(j, i)
              vocab.get(tok).foreach { c =>
                val cand = (best(j)._1 + 1, best(j)._2 - c,
                  best(j)._3 + " " + tok)
                if (b == null ||
                    Ordering[(Int, Long, String)].lt(cand, b)) b = cand
              }
            }
            best(i) = b
          }
          best(w.length)._3.trim.split(" ").toSeq
        }
        val counts = scala.collection.mutable.Map.empty[String, Long]
          .withDefaultValue(0L)
        for ((w, f) <- words; t <- seg(w)) counts(t) += f
        val charRows = chars.map(c => c -> counts.getOrElse(c, 0L))
        val multi = counts.filter(_._1.length > 1).toSeq
          .sortBy { case (t, c) => (-c, t) }.take(k)
        vocab = (charRows ++ multi).toMap
      }
      vocab.toSeq.sortBy { case (t, c) => (-c, t) }
    }

    for (seed <- 1L to 5L) {
      val dict = dictGen(Gen.Parameters.default, Seed(seed)).get
      val df = spark.createDataFrame(dict).toDF("w", "freq")
      val got = operators.TextAnalysis.unigramTrainFromWords(df)
      val want = naive(dict)
      assert(got == want, s"seed=$seed dict=$dict\n got=$got\nwant=$want")
    }
  }

  test("text_unigram_train learns multi-char subwords on the fixture") {
    val rows = SparkEntry.queries("text_unigram_train")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2),
        r.getLong(3)))
    assert(rows.map(_._1).toSeq == (1 to rows.length).toSeq, "dense ranks")
    val multi = rows.filter(_._3 > 1)
    assert(multi.nonEmpty && multi.forall(_._4 > 0L),
      s"pruned vocab must carry used multi-char tokens: ${rows.toSeq}")
    assert(rows.filter(_._3 == 1).map(_._2).toSet
      .subsetOf(('a' to 'z').map(_.toString).toSet))
    // the shrink schedule bounds multi-char survivors by the last keep
    assert(multi.length <= 12, s"prune must cap multi tokens: ${multi.length}")
  }

  test("text_unigram_apply: per-word token floor holds and subwords compress") {
    val rows = SparkEntry.queries("text_unigram_apply")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (id, nw, nt) =>
      assert(nw > 0 && nt >= nw, s"doc $id: $nt tokens for $nw words") }
    // the learned multi-char tokens must actually compress: total subword
    // tokens strictly below total characters (the char-level ceiling)
    val totChars = Tables.load(spark, sfDir, "documents")
      .select(explode(functions.TextFunctions.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .agg(sum(length(col("w")))).head.getLong(0)
    assert(rows.map(_._3).sum < totChars,
      s"no compression: ${rows.map(_._3).sum} tokens vs $totChars chars")
  }

  test("pipeline_curation: strictly shrinking funnel, stages recompose") {
    val rows = SparkEntry.queries("pipeline_curation")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq ==
      Seq("raw", "html", "c4", "url_dedup", "selected"))
    val docsN = rows.map(_._3)
    assert(docsN.zip(docsN.tail).forall { case (a, b) => a > b && b > 0 },
      s"every stage must drop documents and keep some: ${docsN.toSeq}")
    val words = rows.map(_._4)
    assert(words.zip(words.tail).forall { case (a, b) => a > b && b > 0 })
    // composition checks: the html stage count must equal the standalone
    // extraction row's count of docs with any surviving line (same
    // kernel, same fixture pages), and the url stage must collapse to at
    // most the 7x40 planted canonical groups
    val htmlAlone = SparkEntry.queries("text_html_extract")(spark, sfDir)
      .filter(col("n_lines_kept") >= 1).count()
    assert(rows(1)._3 == htmlAlone)
    assert(rows(3)._3 <= 280)
  }

  test("text_bpe_train equals a local Sennrich learn loop") {
    val texts = Tables.load(spark, sfDir, "documents")
      .select("text").collect().map(_.getString(0))
    val freq = scala.collection.mutable.Map.empty[String, Long]
    texts.foreach(t => mkNorm(t).filter(_.nonEmpty)
      .foreach(w => freq(w) = freq.getOrElse(w, 0L) + 1))
    val vocab = scala.collection.mutable.Map(
      freq.keys.map(w => w -> w.map(_.toString).toList).toSeq: _*)
    val want = (0 until 8).map { k =>
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      vocab.foreach { case (w, syms) =>
        syms.zip(syms.tail).foreach(p =>
          counts(p) = counts.getOrElse(p, 0L) + freq(w))
      }
      val ((l, r), cnt) = counts.toSeq
        .minBy { case ((a, b), c) => (-c, a, b) }
      vocab.foreach { case (w, syms) =>
        val out = scala.collection.mutable.ListBuffer.empty[String]
        syms.foreach { s0 =>
          if (out.nonEmpty && out.last == l && s0 == r)
            out(out.size - 1) = l + r
          else out += s0
        }
        vocab(w) = out.toList
      }
      (k, l, r, l + r, cnt)
    }
    val got = SparkEntry.queries("text_bpe_train")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
                 r.getString(3), r.getLong(4))).toSeq
    assert(got == want)
    // chained merges must occur: some later merge consumes an earlier
    // merged symbol (the property that separates BPE from bigram counts)
    val mergedSyms = want.map(_._4).toSet
    assert(want.exists { case (_, l, r, _, _) =>
      mergedSyms.contains(l) || mergedSyms.contains(r) })
  }

  test("text_line_dedup equals a local recompute; planted boilerplate dies") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def page(id: Long, t: String): Seq[String] = {
      val content = mkNorm(t).grouped(6).map(_.mkString(" ")).toSeq
      content ++ Seq("subscribe to our newsletter today") ++
        (if (id % 2 == 0) Seq("share this article with friends") else Nil) ++
        (if (id % 7 == 3) Seq("all rights reserved worldwide") else Nil) ++
        (if (id % 23 == 11) Seq("visit our partner sites now") else Nil) ++
        Seq(s"team update number ${id % 50}")
    }
    val pages = docs.map { case (id, t) => id -> page(id, t) }
    val df = pages.flatMap { case (id, ls) => ls.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (l, o) => l -> o.size }
    val want = pages.map { case (id, ls) =>
      val kept = ls.filter(l => df(l) <= 15)
      id -> ((ls.size, kept.size.toLong, kept.mkString("\n")))
    }.toMap
    val got = SparkEntry.queries("text_line_dedup")(spark, sfDir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(got == want)
    // the universal footer must die everywhere; the 50-way team line's df
    // at this fixture size sits under the threshold and must survive
    assert(got.values.forall(!_._3.contains("subscribe to our")))
    assert(got.values.forall(_._3.contains("team update number")))
    assert(got.values.exists { case (raw, kept, _) => kept < raw })
    // every join is key-equi (hash-partitionable): a nested-loop or
    // cartesian anywhere here would be corpus × corpus at scale
    val p = SparkEntry.queries("text_line_dedup")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in plan:\n$p")
  }

  test("graph_knn: cell-bounded equi pairing, WindowGroupLimit, k rows per vector") {
    val df = SparkEntry.queries("graph_knn")(spark, sfDir)
    val rows = df.collect()
    try {
      assert(rows.nonEmpty)
      // exactly one rank sequence 1..m (m <= 5) per vector, cosine
      // non-increasing within each vector's list
      val byVec = rows.groupBy(_.getAs[Long]("vec_id"))
      assert(byVec.values.forall { rs =>
        val sorted = rs.sortBy(_.getAs[Int]("rnk"))
        sorted.map(_.getAs[Int]("rnk")).sameElements(1 to rs.length) &&
          rs.length <= 5 &&
          sorted.map(_.getAs[Double]("cos")).sliding(2)
            .forall(p => p.length < 2 || p(0) >= p(1))
      })
      // no self-edges
      assert(rows.forall(r =>
        r.getAs[Long]("vec_id") != r.getAs[Long]("nbr_id")))
      // scale shape: the pairing is an equi join on the cell id (never
      // corpus x corpus) and the per-vector top-k partial-limits before
      // the exchange
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"non-equi pairing:\n$p")
      assert(p.contains("WindowGroupLimit"), s"rank filter not group-limited:\n$p")
    } finally Caches.releaseAll(spark)
  }

  test("graph_knn_components: clusters are min-labeled, >= 2 members, edge-consistent") {
    val comp = SparkEntry.queries("graph_knn_components")(spark, sfDir).collect()
    try {
      assert(comp.nonEmpty, "no knn components at the fixture threshold")
      // every component has >= 2 members (edges imply both endpoints) and
      // cluster ids are distinct node labels
      assert(comp.forall(_.getAs[Long]("n_members") >= 2))
      val ids = comp.map(_.getAs[Long]("cluster"))
      assert(ids.distinct.length == ids.length)
      // consistency with the knn lists: the total membership equals the
      // node count of the thresholded edge set (recomputed via the row)
      val knn = SparkEntry.queries("graph_knn")(spark, sfDir).collect()
      val nodes = knn.filter(_.getAs[Double]("cos") >= 0.4)
        .flatMap(r => Seq(r.getAs[Long]("vec_id"), r.getAs[Long]("nbr_id")))
        .distinct
      assert(comp.map(_.getAs[Long]("n_members")).sum == nodes.length)
    } finally Caches.releaseAll(spark)
  }

  test("graph_knn_recall: multiprobe recovers boundary recall, superset property holds") {
    val r = SparkEntry.queries("graph_knn_recall")(spark, sfDir).collect()
    try {
      assert(r.length == 2 && r.forall(_.getAs[Boolean]("recall_ok")))
      val m = r.find(_.getString(0) == "multiprobe").get.getAs[Double]("recall")
      val s0 = r.find(_.getString(0) == "single").get.getAs[Double]("recall")
      // multi-probe candidates are a SUPERSET of single-probe (probe
      // rank 1 IS the assignment cell), so recall can never decrease
      assert(m >= s0, s"multiprobe $m < single $s0 — superset property violated")
    } finally Caches.releaseAll(spark)
  }

  test("pipeline_rag_dense: probe-bounded, cartesian-free, budget cut engages") {
    val df = SparkEntry.queries("pipeline_rag_dense")(spark, sfDir)
    val rows = df.collect()
    try {
      assert(rows.nonEmpty, "dense funnel returned nothing")
      // the packing stage must be LOAD-BEARING: fewer rows than the
      // re-rank's top-10 means the budget cut actually dropped some
      assert(rows.length < 10,
        s"budget cut vacuous: all ${rows.length} re-ranked rows survived")
      // rank order = ascending exact distance; cumulative tokens monotone
      // and within the 128-token budget
      val d2s = rows.map(_.getAs[Long]("d2"))
      assert(d2s.sameElements(d2s.sorted), "re-rank not distance-ascending")
      val cums = rows.map(_.getAs[Long]("cum_tokens"))
      assert(cums.sameElements(cums.sorted) && cums.last <= 128)
      assert(cums.zip(rows.map(_.getAs[Long]("n_tokens"))).zipWithIndex
        .forall { case ((c, n), i) => c == (if (i == 0) n else cums(i - 1) + n) })
      // IVF bounding: every surviving chunk sits in one of the <= nprobe
      // probed cells
      assert(rows.map(_.getAs[Int]("cell")).distinct.length <=
        operators.Similarity.DenseNProbe)
      // scale shape: no cartesian/nested-loop anywhere; the packing
      // join-back broadcasts the K-row ranked side; the re-rank is a
      // TakeOrdered, never a corpus-grain global sort or window
      val p = df.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in plan:\n$p")
      assert(p.contains("BroadcastExchange"), s"ranked side not broadcast:\n$p")
      assert(p.contains("TakeOrderedAndProject"), s"re-rank not TakeOrdered:\n$p")
    } finally Caches.releaseAll(spark)
  }

  test("sample_importance equals a local DSIR-shape recompute; profile broadcasts") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def buckets(t: String): Seq[Int] = {
      val w = mkNorm(t)
      if (w.length < 2) Seq.empty
      else w.sliding(2).map(p => Integer.parseInt(
        md5hex(p.mkString(" ")).substring(0, 2), 16)).toSeq
    }
    val (target, raw) = docs.partition { case (_, t) => md5hex(t).head == '0' }
    val profile = target.values.flatMap(buckets)
      .groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val scores = raw.flatMap { case (id, t) =>
      val bs = buckets(t)
      if (bs.isEmpty) None
      else Some(id -> ((bs.map(b => profile.getOrElse(b, 0L)).sum, bs.size.toLong)))
    }
    val total = scores.values.map(_._1).sum
    val n = scores.size.toLong
    val want = scores.filter { case (_, (sc, _)) => sc * n > total }
    val df = SparkEntry.queries("sample_importance")(spark, sfDir)
    val got = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    assert(want.nonEmpty && want.size < scores.size,
      "threshold must actually select")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"profile not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the 256-row profile:\n$p")
  }

  test("pipeline_pretraining: funnel composes classifier/decontam/dedup exactly") {
    import org.apache.spark.sql.functions.col
    val rows = SparkEntry.queries("pipeline_pretraining")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq ==
      Seq("raw", "quality_kept", "decontaminated", "deduped"))
    val nd = rows.map(_._3)
    val nt = rows.map(_._4)
    assert(nd.zip(nd.tail).forall { case (a, b) => a >= b && b > 0 })
    assert(nt.zip(nt.tail).forall { case (a, b) => a >= b && b > 0 })
    assert(nd(0) > nd(1), "classifier gate must drop documents")
    assert(nd(1) > nd(2), "decontamination must drop overlapping documents")
    // composition checks against the standalone rows: stage-1 count is
    // the classifier's keep set; stage-0 token mass is the token-budget
    // row's corpus total — the same kernels, re-derived independently
    val keeps = SparkEntry.queries("text_quality_classifier")(spark, sfDir)
      .filter(col("keep") === 1).count()
    assert(nd(1) == keeps, s"stage 1 ${nd(1)} != classifier keeps $keeps")
    val budgetTotal = SparkEntry.queries("text_token_budget")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum(col("sum_tokens")))
      .head.getLong(0)
    assert(nt(0) == budgetTotal,
      s"raw token mass ${nt(0)} != token-budget total $budgetTotal")
  }

  test("pipeline_rag: context packing respects the budget and rank order") {
    val rows = SparkEntry.queries("pipeline_rag")(spark, sfDir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(rows.nonEmpty, "retrieval found no chunks for the query terms")
    // ranks are contiguous from 1 (a budget cut never skips a rank:
    // cumulative tokens are monotone, so the kept prefix is a prefix)
    assert(rows.map(_._1).toSeq == (1 to rows.length),
      s"ranks not a contiguous prefix: ${rows.map(_._1).mkString(",")}")
    // scores non-increasing in rank; cumulative tokens exact and bounded
    assert(rows.sliding(2).forall {
      case Array(a, b) => a._6 >= b._6; case _ => true },
      "bm25 not non-increasing in rank")
    var cum = 0L
    for (r <- rows) {
      cum += r._4
      assert(r._5 == cum, s"cum_tokens drifts at rank ${r._1}")
      assert(cum <= 128, s"context budget exceeded at rank ${r._1}: $cum")
    }
    // provenance decomposition round-trips: every chunk exists in the
    // chunking row with the same source doc and chunk index
    val chunkKeys = SparkEntry.queries("text_chunk")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    for (r <- rows)
      assert(chunkKeys((r._2, r._3)),
        s"retrieved chunk (${r._2},${r._3}) not in text_chunk output")
  }

  test("pipeline_eval_harness: funnel equals a full local five-stage replay") {
    import org.apache.spark.unsafe.types.UTF8String
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def tok(t: String): Long = graft.functions.HashImpls.greedyTokenCount(
      UTF8String.fromString(t.trim.toLowerCase.replaceAll("\\s+", " ")))
    def shingles(t: String): Set[String] = {
      val w = mkNorm(t)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val stop = Set("the", "a", "is", "and", "of")
    def gopher(t: String): Boolean = {
      val w = mkNorm(t)
      val awl = w.map(_.length).sum.toDouble / w.length
      w.length >= 10 && w.length <= 100000 &&
        awl >= 2.0 && awl <= 12.0 && w.count(stop) >= 2
    }
    val cand = docs.filter { case (_, _, t) => md5hex(t).head == '1' }
    val gated = cand.filter { case (_, _, t) => gopher(t) }
    val candSh = gated.map { case (id, _, t) => id -> shingles(t) }.toMap
    val evalSet = candSh.values.foldLeft(Set.empty[String])(_ ++ _)
    val hitSet = docs.iterator
      .filter { case (_, _, t) => md5hex(t).head != '1' }
      .foldLeft(Set.empty[String]) { case (acc, (_, _, t)) =>
        acc ++ (shingles(t) & evalSet) }
    val scrub = gated.filter { case (id, _, _) => (candSh(id) & hitSet).isEmpty }
    val strat = scrub.filter { case (_, lang, t) =>
      md5hex(t).substring(2, 4) < (if (lang == "en") "40" else "c0") }
    // every stage must be non-vacuous on the fixture, or the funnel
    // gates nothing (and the stratified facet-independence bug — the
    // cap reusing the carve's md5 chars — would read as 100% pass)
    assert(cand.length < docs.length && gated.length < cand.length &&
      scrub.length < gated.length && strat.length < scrub.length &&
      strat.nonEmpty,
      s"vacuous stage: ${docs.length}/${cand.length}/${gated.length}/" +
        s"${scrub.length}/${strat.length}")
    def mass(xs: Array[(Long, String, String)]): Long =
      xs.iterator.map(x => tok(x._3)).sum
    val bins = strat.groupBy(_._2).iterator.flatMap { case (_, ds) =>
      var cum = 0L
      ds.sortBy(_._1).map { case (_, lang, t) =>
        val k = tok(t); val b = cum / 256; cum += k; ((lang, b), k) }
    }.toSeq.groupBy(_._1)
    val want = Seq(
      (0, "candidates", cand.length.toLong, mass(cand)),
      (1, "quality_kept", gated.length.toLong, mass(gated)),
      (2, "leak_scrubbed", scrub.length.toLong, mass(scrub)),
      (3, "stratified", strat.length.toLong, mass(strat)),
      (4, "packed_sequences", bins.size.toLong,
        bins.values.flatten.map(_._2).sum))
    val got = SparkEntry.queries("pipeline_eval_harness")(spark, sfDir)
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want, s"funnel mismatch:\n got $got\nwant $want")
    Caches.releaseAll(spark)
  }

  test("text_quality_classifier equals a local NB-contrast recompute; model broadcasts") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def buckets(t: String): Seq[Int] = {
      val w = mkNorm(t)
      if (w.length < 2) Seq.empty
      else w.sliding(2).map(p => Integer.parseInt(
        md5hex(p.mkString(" ")).substring(0, 2), 16)).toSeq
    }
    def slice(t: String): String = md5hex(t).head match {
      case '0' => "pos"; case 'f' => "neg"; case _ => "pool"
    }
    val bySlice = docs.groupBy { case (_, t) => slice(t) }
    val posCnt = bySlice("pos").values.flatMap(buckets)
      .groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val negCnt = bySlice("neg").values.flatMap(buckets)
      .groupBy(identity).map { case (b, o) => b -> o.size.toLong }
    val (pt, nt) = (posCnt.values.sum, negCnt.values.sum)
    assert(pt > 0 && nt > 0, "both training slices must be non-empty")
    def wgt(b: Int): Long =
      if (!posCnt.contains(b) && !negCnt.contains(b)) 0L
      else posCnt.getOrElse(b, 0L) * nt - negCnt.getOrElse(b, 0L) * pt
    val want = bySlice("pool").flatMap { case (id, t) =>
      val bs = buckets(t)
      if (bs.isEmpty) None
      else {
        val sc = bs.map(wgt).sum
        Some(id -> ((sc, bs.size.toLong, if (sc > 0) 1 else 0)))
      }
    }
    val df = SparkEntry.queries("text_quality_classifier")(spark, sfDir)
    val got = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3))))
      .toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    val kept = got.values.count(_._3 == 1)
    assert(kept > 0 && kept < got.size,
      "sign threshold must actually separate the pool")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"model not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the 256-row model:\n$p")
  }

  test("native functions reject mistyped input at ANALYSIS time, not codegen") {
    // regression: word_shingles(STRING) used to pass analysis and explode
    // inside Janino mid-query with an inscrutable ClassCastException
    // (caught by the pyspark client walkthrough); ImplicitCastInputTypes
    // turns that into an up-front AnalysisException naming the mismatch
    graft.functions.GraftFunctions.register(spark)
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT word_shingles('not an array', 3)").collect()
    }
    assert(e.getMessage.contains("word_shingles") ||
      e.getMessage.toLowerCase.contains("mismatch"), e.getMessage)
    // and the cast tier works where a cast EXISTS: int array → double array
    val ok = spark.sql(
      "SELECT cosine_sim(array(1, 0), array(1, 0)) AS c").head.getDouble(0)
    assert(math.abs(ok - 1.0) < 1e-12)
  }

  test("text_token_budget: subword-metered bins equal local recompute; codegen'd") {
    import org.apache.spark.unsafe.types.UTF8String
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def tok(t: String): Long = graft.functions.HashImpls.greedyTokenCount(
      UTF8String.fromString(t.trim.toLowerCase.replaceAll("\\s+", " ")))
    val want = docs.groupBy(_._2).flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._1).map { case (id, _, t) =>
        val k = tok(t)
        val bin = (cum / 256).toInt
        cum += k
        ((src, bin), (id, k))
      }.groupBy(_._1).map { case (key, xs) =>
        key -> ((xs.length, xs.map(_._2._2).sum, xs.map(_._2._1).min))
      }
    }
    // subword metering must actually disagree with whitespace word counts
    // somewhere, or the row is the pack_sequences twin with extra steps
    assert(docs.exists { case (_, _, t) =>
      tok(t) != t.trim.split("\\s+").length.toLong
    }, "subword and word counts never diverged on the fixture")
    val df = SparkEntry.queries("text_token_budget")(spark, sfDir)
    val got = df.collect().map(r => (r.getString(0), r.getInt(1)) ->
      ((r.getInt(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("greedy_token_count"), s"kernel not in plan:\n$p")
    assert(p.contains("*("), s"tokenizer fell out of codegen:\n$p")
  }

  test("pack_global_shuffle: seeded order exact, shard ranges disjoint, no global sort") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    def key(id: Long): String = md5hex(s"42:$id")
    def shard(id: Long): Int =
      Integer.parseInt(key(id).substring(0, 1), 16) / 2
    val want = docs.groupBy { case (id, _) => shard(id) }.map { case (s0, ds) =>
      val ordered = ds.map { case (id, t) =>
        (key(id), id, t.trim.split("\\s+").length.toLong)
      }.sortBy { case (k, id, _) => (k, id) }
      val ranks = ordered.zipWithIndex.map { case ((k, id, tok), i) =>
        (k, id, tok, i + 1L)
      }
      s0 -> ((ranks.length.toLong, ranks.map(_._3).sum,
        ranks.head._2, ranks.last._2,
        ranks.map { case (_, id, _, r) => r * id }.sum,
        ranks.map(_._1).min, ranks.map(_._1).max))
    }
    val df = SparkEntry.queries("pack_global_shuffle")(spark, sfDir)
    val rows = df.collect()
    val got = rows.map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6),
      r.getString(7)))).toMap
    assert(got == want, s"got=$got\nwant=$want")
    assert(got.size == 8, "every fixed key-space range must be populated")
    // the range property that lets a trainer stream shards in name order:
    // shard s's entire key span precedes shard s+1's
    val spans = rows.sortBy(_.getInt(0)).map(r => (r.getString(6), r.getString(7)))
    spans.sliding(2).foreach { case Array((_, hiA), (loB, _)) =>
      assert(hiA < loB, s"shard ranges overlap: $hiA !< $loB")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("hashpartitioning(shard"),
      s"per-shard window must partition on shard:\n$p")
    assert(!p.contains("Exchange SinglePartition"),
      s"global order must never funnel through one partition:\n$p")
  }

  test("pack_interleave: WFQ stride schedule exact, prefix carries the mixture") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def stride(src: String): Int =
      src.reverse.takeWhile(_.isDigit).reverse.toInt % 4 + 1
    val scheduled = docs.groupBy(_._2).toSeq.flatMap { case (src, ds) =>
      ds.map { case (id, _) => (md5hex(s"7:$id"), id, src) }
        .sortBy { case (k, id, _) => (k, id) }
        .zipWithIndex.map { case ((_, id, s0), i) =>
          (( i + 1L) * stride(s0), s0, i + 1L, id)
        }
    }.sortBy { case (p, s0, r, _) => (p, s0, r) }.take(200)
    val want = scheduled.groupBy(_._2).map { case (s0, xs) =>
      s0 -> ((stride(s0), xs.length.toLong, xs.map(_._4).sum,
        xs.map(_._1).min, xs.map(_._1).max))
    }
    val got = SparkEntry.queries("pack_interleave")(spark, sfDir)
      .collect().map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(got == want)
    // the mixture property: stride-1 sources must out-schedule stride-4
    // sources by roughly their weight ratio inside the prefix
    val byStride = got.values.groupBy(_._1)
      .map { case (st, vs) => st -> vs.map(_._2).sum / vs.size.toDouble }
    assert(byStride(1) > 2 * byStride(4),
      s"stride-1 sources not favored: $byStride")
    val df = SparkEntry.queries("pack_interleave")(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"),
      s"K-prefix must be a top-K, not a materialized global sort:\n$p")
  }

  test("quality_drift: top-20 cross-multiplied imbalances equal a local replay") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val counts = collection.mutable.Map[Int, (Long, Long)]().withDefaultValue((0L, 0L))
    for ((id, t) <- docs; w <- mkNorm(t)) {
      val b = Integer.parseInt(md5hex(w).substring(0, 2), 16)
      val (a0, b0) = counts(b)
      counts(b) = if (id % 2 == 0) (a0 + 1, b0) else (a0, b0 + 1)
    }
    val nA = counts.values.map(_._1).sum
    val nB = counts.values.map(_._2).sum
    val want = counts.toSeq.map { case (b, (ca, cb)) =>
      (b, ca, cb, ca * nB - cb * nA)
    }.sortBy { case (b, _, _, d) => (-math.abs(d), b) }.take(20)
    val got = SparkEntry.queries("quality_drift")(spark, sfDir)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == want)
    assert(got.exists(_._4 != 0), "fixture epochs must show measurable drift")
  }

  test("text_c4_filters: every kept line obeys every rule, every rule fires") {
    val rows = SparkEntry.queries("text_c4_filters")(spark, sfDir).collect()
    val corpus = Tables.load(spark, sfDir, "documents").count()
    assert(rows.nonEmpty && rows.length < corpus,
      "page-level rules must drop some pages and keep some")
    var droppedLines = 0L
    for (r <- rows) {
      val (nRaw, nKept, txt) = (r.getInt(1), r.getInt(2), r.getString(4))
      assert(nKept >= 3, "kept pages must have >= 3 surviving lines")
      assert(nKept <= nRaw)
      droppedLines += (nRaw - nKept)
      val kept = txt.split("\n", -1)
      assert(kept.length == nKept)
      for (l <- kept) {
        assert(l.matches(".*[.!?\"]$"), s"kept line without terminal punct: $l")
        assert(l.split(" ", -1).length >= 5, s"kept line under 5 words: $l")
        assert(!l.contains("javascript"), s"kept line with javascript: $l")
      }
      assert(!txt.contains("lorem ipsum") && !txt.contains("{"))
    }
    assert(droppedLines > 0, "line-level rules must actually drop lines")
  }

  test("expr_url_parse: components recompose the planted URL losslessly") {
    val rows = SparkEntry.queries("expr_url_parse")(spark, sfDir).collect()
    assert(rows.nonEmpty)
    for (r <- rows.take(50)) {
      val id = r.getLong(0)
      val rebuilt = s"${r.getString(1)}://${r.getString(2)}:443" +
        s"${r.getString(3)}?${r.getString(4)}#${r.getString(5)}"
      assert(rebuilt == s"HTTPS://Site${id % 7}.Example.COM:443/page/" +
        s"${id % 40}?utm_campaign=c$id#frag$id",
        s"decomposition lost information: $rebuilt")
      assert(r.getString(6) == s"c$id", "keyed query lookup")
    }
  }

  test("dedup_url_keep_best: one keeper per canonical URL, best by (len, id)") {
    val rows = SparkEntry.queries("dedup_url_keep_best")(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    val corpus = Tables.load(spark, sfDir, "documents").count()
    assert(rows.map(_._1).distinct.length == rows.length, "one row per URL")
    assert(rows.map(_._4).sum == corpus, "group sizes tile the corpus")
    assert(rows.forall(_._1.startsWith("https://site")), "canon lowercased")
    assert(rows.forall(r => !r._1.contains(":443") && !r._1.contains("#") &&
      !r._1.contains("utm_")), "port/fragment/utm must be stripped")
    assert(rows.exists(_._4 > 1), "fixture must actually collide URLs")
  }

  test("dedup_containment: planted quotes found at C=1.0, verdicts brute-checked") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh3(ws: Seq[String]): Set[String] =
      if (ws.length < 3) Set.empty else ws.sliding(3).map(_.mkString(" ")).toSet
    val corpus = docs.map { case (id, t) => id -> sh3(mkNorm(t).toSeq) }
      .filter(_._2.nonEmpty)
    val frags = docs.collect { case (id, t) if id % 29 == 0 =>
      val ws = mkNorm(t).toSeq
      id -> sh3(ws.take(ws.length / 2))
    }.filter(_._2.nonEmpty)
    val want = (for {
      (fid, shf) <- frags; (did, sh) <- corpus
      c = shf.intersect(sh).size.toDouble / shf.size if c >= 0.9
    } yield (fid, did, c)).toSet
    val got = SparkEntry.queries("dedup_containment")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want, s"got=${got.size} want=${want.size}")
    // every planted fragment is a subspan of its source: C(frag, source)=1
    for ((fid, shf) <- frags)
      assert(got.contains((fid, fid, 1.0)),
        s"fragment $fid did not surface its own source at C=1.0")
    // asymmetry is the point: these same pairs are invisible to the
    // symmetric Jaccard tier at its 0.8 threshold
    val jInvisible = frags.exists { case (fid, shf) =>
      val sh = corpus(fid)
      val j = shf.intersect(sh).size.toDouble /
        (shf.size + sh.size - shf.intersect(sh).size)
      j < 0.8
    }
    assert(jInvisible, "fixture quotes must be below the Jaccard threshold")
  }

  test("text_decontaminate equals brute-force 5-gram overlap; bench side broadcasts") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh5(t: String): Set[String] = {
      val w = mkNorm(t)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val (bench, train) = docs.partition { case (_, t) => md5hex(t).head == '0' }
    val benchSh = bench.values.flatMap(sh5).toSet
    assert(bench.nonEmpty && benchSh.nonEmpty, "carve produced no benchmark slice")
    val want = train.flatMap { case (id, t) =>
      val hits = (sh5(t) & benchSh).size
      if (hits > 0) Some(id -> hits.toLong) else None
    }
    val q = SparkEntry.queries("text_decontaminate")(spark, sfDir)
    val got = q.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want, s"got ${got.size} contaminated docs, want ${want.size}")
    // the scale claim: the benchmark shingle set must arrive by broadcast —
    // the corpus probe side never shuffles for the join
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "bench side must broadcast")
  }

  test("bloom decontaminate tier equals the exact tier and the prefilter prunes") {
    val base = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("text"),
        substring(md5(col("text")), 1, 1).as("carve"))
    val train = base.filter(col("carve") =!= "0").select(col("doc_id"), col("text"))
    val bench = base.filter(col("carve") === "0").select(col("text"))
    // exactness: bloom prefilter + residual join == the broadcast-set tier
    val exact = operators.TextAnalysis.decontaminate(train, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    val bloom = operators.TextAnalysis.decontaminateBloom(train, bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    assert(bloom == exact, "bloom tier must be exact (no false negatives)")
    // the scale claim: at 1% fpp the residual join's probe side carries
    // candidates, not the corpus — survivors ≈ true hits + fpp·probes. On
    // this fixture the true hit count is tiny, so candidates must be well
    // under the total corpus shingle volume (a ≥ 50% pass proves the
    // prefilter did nothing).
    GraftFunctions.register(spark)
    val totalShingles = train.select(explode(
        GraftFunctions.word_shingles(
          graft.functions.TextFunctions.words(col("text")), 5)).as("sh"))
    val bf = bench.select(explode(
        GraftFunctions.word_shingles(
          graft.functions.TextFunctions.words(col("text")), 5)).as("sh"))
      .distinct()
    val bfFilter = bf.stat.bloomFilter("sh", math.max(bf.count(), 1L), 0.01)
    val bc = spark.sparkContext.broadcast(bfFilter)
    val survive = udf((x: String) => x != null && bc.value.mightContainString(x))
    val nTotal = totalShingles.count()
    val nCand = totalShingles.filter(survive(col("sh"))).count()
    assert(nCand < nTotal / 2,
      s"bloom prefilter must prune the probe side ($nCand of $nTotal survived)")
  }

  test("text_decontaminate_frac: exact per-doc overlap fraction, one corpus pass") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def sh5(t: String): Set[String] = {
      val w = mkNorm(t)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val (bench, train) = docs.partition { case (_, t) => md5hex(t).head == '0' }
    val benchSh = bench.values.flatMap(sh5).toSet
    val want = train.flatMap { case (id, t) =>
      val mine = sh5(t)
      val hits = (mine & benchSh).size
      if (hits > 0)
        Some(id -> ((mine.size, hits.toLong, hits.toDouble / mine.size)))
      else None
    }
    val q = SparkEntry.queries("text_decontaminate_frac")(spark, sfDir)
    val got = q.collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == want, s"got ${got.size} contaminated docs, want ${want.size}")
    // the verdict column is the fraction against the threshold, exactly
    q.collect().foreach { r =>
      assert(r.getBoolean(4) == (r.getDouble(3) >= 0.5))
    }
    // an exact duplicate of a bench doc must read 1.0 and drop; the
    // fixture's incidental idiom collisions must keep — both verdicts
    // present, or the threshold gate is vacuous on this fixture
    val verdicts = q.collect().map(_.getBoolean(4)).toSet
    assert(verdicts == Set(true, false),
      s"threshold must split the fixture, saw only $verdicts")
    // same scale contract as the binary tier: bench arrives by broadcast
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "bench side must broadcast")
  }

  test("decontaminate size guard: oversized bench side is never forced to broadcast") {
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val bench = docs.select(col("text"))
    // within the bound: the broadcast hint is applied (the 100 TB contract:
    // corpus side stays a map-only probe)
    val hinted = operators.TextAnalysis.decontaminate(docs, bench)
    assert(hinted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "bounded bench side must carry the broadcast hint")
    // over the bound: no forced broadcast — an oversized "benchmark" must
    // degrade to a shuffle join, not OOM every executor
    val guarded = operators.TextAnalysis.decontaminate(docs, bench,
      maxBroadcastShingles = 0)
    assert(!guarded.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "oversized bench side must not be broadcast-hinted")
    // both paths compute the same answer (ordered by doc_id)
    assert(hinted.collect().toSeq == guarded.collect().toSeq)
    // the FRACTION tier carries the same guard, and its shuffle fallback
    // must keep the carried per-doc divisor intact through the
    // non-broadcast join (ADVICE r11: this path was untested)
    val fHinted = operators.TextAnalysis.decontaminateFraction(docs, bench)
    val fGuarded = operators.TextAnalysis.decontaminateFraction(docs, bench,
      maxBroadcastShingles = 1)
    assert(fHinted.queryExecution.analyzed.toString.contains("ResolvedHint"))
    assert(!fGuarded.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "oversized bench side must not be broadcast-hinted in the frac tier")
    assert(fHinted.collect().toSeq == fGuarded.collect().toSeq)
  }

  test("text_blocklist matches token-boundary semantics, never substring") {
    val raw = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val block = Set("a", "dup")
    val want = raw.view.mapValues(mkNorm(_).toSeq)
      .filter { case (_, ws) => ws.exists(block) }
      .map { case (id, ws) =>
        id -> ((ws.length, ws.distinct.filter(block).sorted.mkString(" ")))
      }.toMap
    val got = SparkEntry.queries("text_blocklist")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getString(3)))).toMap
    assert(got == want, s"got=${got.size} want=${want.size}")
    // non-vacuous both ways, and the kept docs prove WORD-level matching:
    // every kept doc still CONTAINS 'a' as a substring (table/data/scan),
    // so a substring matcher would have flagged the whole corpus
    val kept = raw.keySet -- got.keySet
    assert(got.nonEmpty && kept.nonEmpty, s"split is vacuous: ${got.size}")
    assert(kept.forall(id => raw(id).toLowerCase.contains("a")),
      "fixture lost the substring-vs-token distinction")
  }

  test("text_decontaminate_scrub matches a local span-excision recompute") {
    // sf0.01: the sf0.001 slice carries no contaminated docs, which would
    // make the compare vacuous
    val dir = "/root/testdata/sf0.01"
    val raw = Tables.load(spark, dir, "documents").select("doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ws(t: String) = mkNorm(t)
    val bench = raw.values.filter(t => md5hex(t).startsWith("0"))
      .filter(t => ws(t).length >= 5)
      .flatMap(t => ws(t).sliding(5).map(_.mkString(" "))).toSet
    val want = raw.collect {
      case (id, t) if !md5hex(t).startsWith("0") && ws(t).length >= 5 =>
        val w = ws(t)
        val hits = (0 to w.length - 5)
          .filter(i => bench(w.slice(i, i + 5).mkString(" ")))
        id -> hits
    }.collect { case (id, hits) if hits.nonEmpty =>
      val w = ws(raw(id))
      val cov = hits.flatMap(i => i until i + 5).toSet
      val kept = w.zipWithIndex.collect { case (x, i) if !cov(i) => x }
        .mkString(" ")
      id -> ((w.length, cov.size, kept.take(60)))
    }.toMap
    val got = SparkEntry.queries("text_decontaminate_scrub")(spark, dir)
      .collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3))))
      .toMap
    assert(want.nonEmpty, "fixture must carry contaminated docs")
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("text_decontaminate_frac_bloom equals the exact tier, probe stays codegen") {
    val exact = SparkEntry.queries("text_decontaminate_frac")(spark, sfDir)
      .collect().toSeq
    val bloomDf =
      SparkEntry.queries("text_decontaminate_frac_bloom")(spark, sfDir)
    assert(bloomDf.collect().toSeq == exact,
      "bloom prefilter + residual exact join must emit identical fractions")
    // the probe must sit inside the scan-side codegen span, same
    // assertion family as the binary bloom tier's
    val p = bloomDf.queryExecution.executedPlan.toString
    assert(p.contains("bloom_might_contain"), s"native probe missing:\n$p")
    // scoped registration: building the query must leave no
    // bloom_might_contain_b<id> entries behind in the session registry
    val leaked = spark.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("bloom_might_contain_b"))
    assert(leaked.isEmpty, s"temp probe registrations leaked: $leaked")
  }

  test("text_repetition matches hand computation on fixture docs") {
    val out = SparkEntry.queries("text_repetition")(spark, sfDir).collect()
    val raw = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.nonEmpty)
    out.take(25).foreach { r =>
      val w = mkNorm(raw(r.getLong(0)))
      val topW = w.groupBy(identity).values.map(_.length).max
      assert(r.getAs[Int]("n_words") == w.length)
      assert(r.getAs[Int]("n_distinct") == w.distinct.length)
      assert(r.getAs[Double]("dup_ratio") == 1.0 - 1.0 * w.distinct.length / w.length)
      assert(r.getAs[Double]("top_word_frac") == 1.0 * topW / w.length)
      // a single-word doc has no bigrams (sliding(2) on 1 element yields a
      // bogus 1-element window and w.length-1 = 0 divides) — the query's
      // when(n >= 2) guard returns 0.0 there; mirror it
      if (w.length >= 2) {
        val bg = w.sliding(2).map(_.mkString(" ")).toArray
        val topB = bg.groupBy(identity).values.map(_.length).max
        assert(r.getAs[Double]("top_bigram_frac") == 1.0 * topB / (w.length - 1))
      } else {
        assert(r.getAs[Double]("top_bigram_frac") == 0.0)
      }
    }
  }

  test("text_vocab conserves corpus word mass and orders by frequency") {
    val out = SparkEntry.queries("text_vocab")(spark, sfDir).collect()
    val totalWords = Tables.load(spark, sfDir, "documents")
      .select(sum(size(graft.functions.TextFunctions.words(col("text")))))
      .collect()(0).getLong(0)
    val nDocs = Tables.load(spark, sfDir, "documents").count()
    // synthetic vocab is far below the k=100 cutoff, so the top-k IS the
    // whole vocabulary and occurrence mass must be conserved exactly
    assert(out.length < 100, "fixture vocab unexpectedly hit the top-k cap")
    assert(out.map(_.getAs[Long]("n_occ")).sum == totalWords)
    assert(out.forall(r => r.getAs[Long]("n_docs") <= nDocs))
    val occs = out.map(_.getAs[Long]("n_occ")).toSeq
    assert(occs == occs.sorted.reverse, "must be most-frequent-first")
  }

  test("dedup_segment keeps exactly the first occurrence of each segment") {
    val raw = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).sortBy(_._1)
    // brute-force keep-first in doc_id, seg_idx order
    val seen = scala.collection.mutable.Set.empty[String]
    val want = raw.map { case (id, t) =>
      val segs = mkNorm(t).grouped(3).filter(_.length == 3)
        .map(_.mkString(" ")).toArray
      val kept = segs.count(seen.add)
      id -> ((segs.length, kept, segs.length - kept))
    }.toMap
    val out = SparkEntry.queries("dedup_segment")(spark, sfDir).collect()
    assert(out.length == want.size)
    out.foreach { r =>
      val (nSegs, nKept, nDropped) = want(r.getLong(0))
      assert(r.getAs[Int]("n_segs") == nSegs)
      assert(r.getAs[Int]("n_kept") == nKept)
      assert(r.getAs[Int]("n_dropped") == nDropped)
    }
    // the fixture must make dedup non-vacuous
    assert(out.map(_.getAs[Int]("n_dropped")).sum > 0,
      "fixture produced no duplicate segments — test is vacuous")
  }

  test("segmentDedupCounts edge shapes: short docs, in-doc dups, case/space noise") {
    import spark.implicits._
    // shapes the fixture corpus cannot express: a doc shorter than one
    // segment (vanishes), an exactly-one-segment doc, a doc whose
    // duplicate segment is WITHIN itself, and normalization noise
    val df = Seq(
      (1L, "a b c d e f"),        // segs: "a b c", "d e f"
      (2L, "a b c a b c x"),      // dup of its own first segment, + tail drop
      (3L, "  A   b C "),         // normalizes to "a b c" → dup of doc 1's
      (4L, "too short")           // < 3 words → no segments, absent
    ).toDF("doc_id", "text")
    val out = operators.Dedup.segmentDedupCounts(df, 3).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3)))).toMap
    assert(out == Map(
      1L -> ((2, 2, 0)), // both segments first
      2L -> ((2, 0, 2)), // both its segments are "a b c", owned by doc 1
      3L -> ((1, 0, 1))  // normalized dup of doc 1's first segment
    ))
    // the keeper set is exactly the distinct segments
    val keepers = operators.Dedup.segmentKeepers(df, 3).collect()
    assert(keepers.map(_.getAs[String]("seg")).sorted.toSeq ==
      Seq("a b c", "a b c", "d e f").distinct.sorted)
  }

  test("dedup_segment_keep rebuilds docs consistently with dedup_segment") {
    val counts = SparkEntry.queries("dedup_segment")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Int]("n_kept")).toMap
    val kept = SparkEntry.queries("dedup_segment_keep")(spark, sfDir).collect()
    // docs with zero kept segments vanish; everything else agrees
    assert(kept.length == counts.count(_._2 > 0))
    kept.foreach { r =>
      val id = r.getLong(0)
      assert(r.getAs[Int]("n_kept") == counts(id))
      // the rebuilt text is exactly n_kept 3-word segments in order
      assert(r.getString(1).split(" ").length == 3 * counts(id))
    }
  }

  test("agg_histogram_eqdepth buckets hold equal depth") {
    val out = SparkEntry.queries("agg_histogram_eqdepth")(spark, sfDir).collect()
    assert(out.map(_.getAs[Int]("bucket")).toSeq == Seq(0, 1, 2, 3))
    val total = out.map(_.getAs[Long]("n")).sum
    out.foreach { r =>
      assert(math.abs(r.getAs[Long]("n") - total / 4.0) <= 1.0,
        s"bucket ${r.getAs[Int]("bucket")} depth ${r.getAs[Long]("n")} != ~${total / 4}")
    }
    // buckets are contiguous, non-overlapping ranges of actual data values
    val sorted = out.sortBy(_.getAs[Int]("bucket"))
    sorted.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Double]("max_v") < b.getAs[Double]("min_v"))
    }
  }

  test("sample_mixture applies the tiered keep rates deterministically") {
    val raw = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val want = raw.filter { case (_, t, src) =>
      val grp = src.drop(3).toInt / 5
      val h = md5hex(t).take(2)
      grp == 0 || h < (grp match {
        case 1 => "80"; case 2 => "40"; case _ => "20" })
    }.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    val got = SparkEntry.queries("sample_mixture")(spark, sfDir).collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_kept")).toMap
    assert(got == want)
    // weight-0 tier sources keep everything
    val bySource = raw.groupBy(_._3).view.mapValues(_.length.toLong).toMap
    (0 to 4).map(i => s"src$i").filter(bySource.contains).foreach { s0 =>
      assert(got(s0) == bySource(s0), s"$s0 must keep all docs")
    }
  }

  test("pipeline_corpus funnel is monotone and consistent with its stages") {
    val out = SparkEntry.queries("pipeline_corpus")(spark, sfDir).collect()
      .sortBy(_.getAs[Int]("stage"))
    assert(out.map(_.getAs[String]("stage_name")).toSeq ==
      Seq("raw", "quality", "dedup", "decontam", "mixture"))
    val docsN = out.map(_.getAs[Long]("n_docs"))
    val toks = out.map(_.getAs[Long]("n_tokens"))
    // every stage can only shrink the corpus
    assert(docsN.zip(docsN.tail).forall { case (a, b) => b <= a }, docsN.toSeq)
    assert(toks.zip(toks.tail).forall { case (a, b) => b <= a }, toks.toSeq)
    // every stage stays non-vacuous on the fixture: it drops something
    // and keeps something
    assert(docsN.zip(docsN.tail).forall { case (a, b) => b < a }, docsN.toSeq)
    assert(docsN.last > 0)
    // stage 1 equals the standalone quality gate's keep count
    val keepQ = SparkEntry.queries("text_gopher_quality")(spark, sfDir)
      .filter(col("keep")).count()
    assert(docsN(1) == keepQ)
  }

  test("pipeline stages materialized to parquet equal the lineage form") {
    // the 100 TB claim made by pipeline_corpus's scaladoc, demonstrated:
    // writing every stage out and reading it back changes nothing
    import operators.TextAnalysis._
    val base = SparkTestSession.tempDir("graft_pipe")
    val raw = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), col("source"), col("text"))
    stageQuality(raw).write.parquet(s"$base/q")
    val q = spark.read.parquet(s"$base/q")
    stageRebuild(q).write.parquet(s"$base/r")
    val r = spark.read.parquet(s"$base/r")
    stageDecontam(r).write.parquet(s"$base/dc")
    val dc = spark.read.parquet(s"$base/dc")
    stageMixture(dc).write.parquet(s"$base/m")
    val m = spark.read.parquet(s"$base/m")
    val materialized = pipelineFunnel(raw, q, r, dc, m)
      .collect().map(_.toSeq).toSeq
    val lineage = SparkEntry.queries("pipeline_corpus")(spark, sfDir)
      .collect().map(_.toSeq).toSeq
    assert(materialized == lineage)
  }

  test("mixtureSample keeps per-domain rates, deterministically and stably") {
    val docs = Tables.load(spark, sfDir, "documents")
    val w = Map("src0" -> 0.3, "src1" -> 0.7, "src2" -> 0.0)
    val kept = operators.TextAnalysis.mixtureSample(docs, "source", w)
    val byDomain = kept.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val totals = docs.groupBy(col("source")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // weight 0 drops the domain entirely; unlisted domains keep everything
    assert(!byDomain.contains("src2"))
    assert(byDomain("src3") == totals("src3"))
    // listed rates hold within binomial noise on the small fixture
    for ((dom, wt) <- Seq("src0" -> 0.3, "src1" -> 0.7)) {
      val rate = byDomain.getOrElse(dom, 0L).toDouble / totals(dom)
      assert(math.abs(rate - wt) < 0.35, s"$dom rate $rate vs weight $wt")
    }
    // determinism + stability: the kept set is a pure function of text,
    // so re-evaluating (different partitioning) yields the same ids
    val ids1 = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = operators.TextAnalysis
      .mixtureSample(docs.repartition(7), "source", w)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("pack_sequences bins follow the per-source cumulative boundary") {
    val budget = 64
    val raw = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text", "source").collect()
      .map(r => (r.getLong(0), mkNorm(r.getString(1)).length.toLong,
        r.getString(2)))
    val want = raw.groupBy(_._3).flatMap { case (src, ds) =>
      var cum = 0L
      ds.sortBy(_._1).map { case (_, tok, _) =>
        val bin = (cum / budget).toInt
        cum += tok
        (src, bin)
      }.groupBy(identity).map { case ((s0, b), occ) => (s0, b) -> occ.length }
    }
    val got = SparkEntry.queries("pack_sequences")(spark, sfDir).collect()
      .map(r => (r.getString(0), r.getAs[Int]("bin_id")) ->
        r.getAs[Int]("n_docs")).toMap
    assert(got == want)
    // token mass is conserved per source
    val outTok = SparkEntry.queries("pack_sequences")(spark, sfDir).collect()
      .groupBy(_.getString(0)).view
      .mapValues(_.map(_.getAs[Long]("sum_tokens")).sum).toMap
    val wantTok = raw.groupBy(_._3).view.mapValues(_.map(_._2).sum).toMap
    assert(outTok == wantTok)
  }

  test("text_url_canon lowercases scheme+host and strips port/fragment/tracking") {
    val out = SparkEntry.queries("text_url_canon")(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      // closed form of the planted URL's canonicalization: host lowercased,
      // :80 gone, #fragment gone, utm_* params gone, path case preserved
      assert(r.getString(1) == s"http://www.example${id % 7}.com/Path/$id?id=$id")
    }
  }

  test("text_gopher_quality rules match hand computation") {
    val out = SparkEntry.queries("text_gopher_quality")(spark, sfDir).collect()
    val raw = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out.nonEmpty)
    out.take(25).foreach { r =>
      val w = mkNorm(raw(r.getLong(0)))
      val awl = w.map(_.length).sum.toDouble / w.length
      val nStop = w.count(Set("the", "a", "is", "and", "of"))
      assert(r.getAs[Int]("n_words") == w.length)
      assert(r.getAs[Double]("awl") == awl)
      assert(r.getAs[Int]("n_stop") == nStop)
      val keep = w.length >= 10 && w.length <= 100000 &&
        awl >= 2.0 && awl <= 12.0 && nStop >= 2
      assert(r.getAs[Boolean]("keep") == keep)
    }
  }

  test("text_lm_score equals the brute-force bigram LM computed on the driver") {
    val texts = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> mkNorm(r.getString(1)))
    val bigrams = texts.toMap.view.mapValues(w =>
      if (w.length < 2) Seq.empty else w.toSeq.sliding(2).map(p => (p(0), p(1))).toSeq)
    val c12 = bigrams.values.flatten.groupBy(identity).view.mapValues(_.size.toLong)
    val c1 = bigrams.values.flatten.groupBy(_._1).view.mapValues(_.size.toLong)
    val want = bigrams.filter(_._2.nonEmpty).map { case (id, bs) =>
      val s12 = bs.map(c12(_)).sum
      val s1 = bs.map(b => c1(b._1)).sum
      id -> (bs.length.toLong,
        BigDecimal(s12.toDouble / s1.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    val got = SparkEntry.queries("text_lm_score")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got.nonEmpty && got == want.toMap,
      s"got=${got.size} want=${want.size}")
    got.values.foreach { case (_, score) =>
      assert(score > 0 && score <= 1, s"score $score outside (0,1]")
    }
  }

  test("text_lm_buckets: thirds partition by score with head above tail") {
    val rows = SparkEntry.queries("text_lm_buckets")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getString(3),
        r.getBoolean(4)))
    val scored = SparkEntry.queries("text_lm_score")(spark, sfDir).count()
    assert(rows.length.toLong == scored,
      "every LM-scored doc must land in a bucket")
    val byBucket = rows.groupBy(_._4)
    assert(byBucket.keySet == Set("head", "middle", "tail"),
      s"buckets: ${byBucket.keySet}")
    // discrete-percentile thirds: each bucket holds a nontrivial share
    byBucket.foreach { case (b, g) =>
      assert(g.size >= rows.length / 5, s"bucket $b too small: ${g.size}")
    }
    // score ordering across buckets (boundary keys may tie at the cut)
    assert(byBucket("tail").map(_._3).max <= byBucket("middle").map(_._3).min,
      "tail scores must not exceed middle scores")
    assert(byBucket("middle").map(_._3).max <= byBucket("head").map(_._3).min,
      "middle scores must not exceed head scores")
    rows.foreach { case (id, _, _, b, kept) =>
      assert(kept == (b != "tail"), s"doc $id: kept=$kept bucket=$b")
    }
  }

  test("corpus_diff statuses match the closed-form epoch derivation") {
    val docs = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    def status(id: Long): String =
      if (id % 10 == 9) "added"            // only in v2
      else if (id % 10 == 0) "removed"     // only in v1
      else if (id % 7 == 0) "changed"      // revised in v2
      else "unchanged"
    val wantN = docs.keys.groupBy(status).view.mapValues(_.size.toLong).toMap
    def cp(t: String): Long = t.codePointCount(0, t.length).toLong
    val wantChars = docs.toSeq.groupBy(e => status(e._1)).view.mapValues { g =>
      val v1 = g.collect { case (id, t) if id % 10 != 9 => cp(t) }.sum
      val v2 = g.collect { case (id, t) if id % 10 != 0 =>
        if (id % 7 == 0) cp(t + " rev2") else cp(t) }.sum
      (v1, v2)
    }.toMap
    val got = SparkEntry.queries("corpus_diff")(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == wantN.keySet, s"statuses ${got.keySet}")
    got.foreach { case (st, (n, c1, c2)) =>
      assert(n == wantN(st), s"$st: n=$n want=${wantN(st)}")
      assert((c1, c2) == wantChars(st),
        s"$st: chars=($c1,$c2) want=${wantChars(st)}")
    }
  }

  test("text_vocab_coverage equals the driver top-100 vocab recompute") {
    val words = Tables.load(spark, sfDir, "documents")
      .select("source", "text").collect()
      .flatMap(r => mkNorm(r.getString(1)).map(w => (r.getString(0), w)))
    val vocab = words.groupBy(_._2).view.mapValues(_.size).toSeq
      .sortBy { case (w, n) => (-n, w) }.take(100).map(_._1).toSet
    val want = words.groupBy(_._1).view.mapValues { g =>
      val total = g.length.toLong
      val covered = g.count(e => vocab(e._2)).toLong
      val oovKinds = g.collect { case (_, w) if !vocab(w) => w }.toSet.size.toLong
      val rate = BigDecimal((total - covered).toDouble / total)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      (total, covered, oovKinds, rate)
    }.toMap
    val got = SparkEntry.queries("text_vocab_coverage")(spark, sfDir)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(got == want, s"got=$got\nwant=$want")
  }

  test("sample_temperature flattens the domain skew, anchored at the smallest") {
    val rows = SparkEntry.queries("sample_temperature")(spark, sfDir)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(rows.length == 10, "doc_id-derived domains d0..d9")
    val minTotal = rows.map(_._2).min
    rows.foreach { case (dom, total, rate, kept) =>
      assert(kept <= total, s"$dom kept $kept > total $total")
      assert(rate <= 1.0 && rate > 0)
      if (total == minTotal)
        assert(rate == 1.0 && kept == total,
          s"smallest domain $dom must be kept whole")
    }
    // monotone: a bigger domain never gets a bigger rate
    for (w <- rows.sortBy(_._2).sliding(2) if w.length == 2)
      assert(w(0)._3 >= w(1)._3,
        s"rate must fall as domain grows: ${w(0)} vs ${w(1)}")
    // the point of the operator: the kept distribution is FLATTER than the
    // input distribution (ratio of extremes strictly shrinks)
    val keptMax = rows.map(_._4).max.toDouble
    val keptMin = rows.map(_._4).min.toDouble
    val totMax = rows.map(_._2).max.toDouble
    assert(keptMin > 0, "no domain may be emptied")
    assert(keptMax / keptMin < totMax / minTotal.toDouble,
      "temperature sampling must flatten the skew")
  }
}
