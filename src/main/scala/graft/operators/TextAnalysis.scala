package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{GraftFunctions, TextFunctions => TF}

/** Text-analysis operators over the `documents` table — the
  * language-ID / quality-score / token-count / fingerprint layer of a
  * training-data pipeline (beyond the reference surface; SURVEY.md §7.1 M7).
  * All are single-pass, shuffle-free per-row projections: at 100 TB they
  * scale linearly with input splits and stay inside whole-stage codegen.
  */
object TextAnalysis {

  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** Token counting: whitespace tokens + BPE-ish pre-tokenization count. */
  private def textTokens(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      TF.tokenCountWs(col("text")).as("tok_ws"),
      TF.tokenCountBpe(col("text")).cast("int").as("tok_bpe"))
      .orderBy(col("doc_id"))

  /** Overlapping-window document chunking — the RAG/context-prep step
    * that splits long documents into retrieval- or training-sized pieces:
    * [[ChunkSize]]-token windows advancing by [[ChunkStride]] tokens (so
    * consecutive chunks share `size − stride` tokens of context and no
    * sentence straddling a boundary is lost from both sides). Chunk count
    * per doc is `1 + ⌈max(n − size, 0) / stride⌉` — exactly the windows
    * needed to cover every token, never a redundant trailing window fully
    * contained in its predecessor; short docs yield one chunk. Emits the
    * md5 of each chunk's text (the driver-comparable form) plus its token
    * count. Scale shape: tokenize → `sequence`/`posexplode` → `slice` is
    * one map-only codegen'd pass per document — no shuffle anywhere but
    * the presentation sort, and the explode fan-out is output-sized (the
    * chunks themselves), so it parallelizes with the scan at any corpus
    * size. Tokens are whitespace words (`split(trim(text))`), the same
    * definition the [[textTokens]] oracle pins; the oracle replays the
    * window arithmetic with `generate_series` + `list_slice`.
    */
  private[graft] val ChunkSize = 32
  private[graft] val ChunkStride = 24

  /** (doc_id, chunk_id, chunk: Array[String]) — the window derivation
    * shared by [[textChunk]] (the chunking row itself) and
    * [[pipelineRag]] (chunk-level retrieval).
    */
  private def chunkedDocs(s: SparkSession, d: String): DataFrame = {
    val (sz, st) = (ChunkSize, ChunkStride)
    docs(s, d)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .withColumn("nchunks",
        expr(s"1 + cast((greatest(size(w) - $sz, 0) + ${st - 1}) div $st as int)"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), col("nchunks") - 1)).as("chunk_id"))
      .withColumn("chunk", slice(col("w"), col("chunk_id") * st + 1, lit(sz)))
      .drop("w")
  }

  private def textChunk(s: SparkSession, d: String): DataFrame =
    chunkedDocs(s, d)
      .select(
        col("doc_id"), col("chunk_id"),
        size(col("chunk")).as("n_tok"),
        md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))

  private val RagTerms = Seq("merge", "filter", "spark")
  private val RagK = 20
  private[graft] val RagBudget = 128
  /** Chunk-key packing multiplier: supports docs up to 10⁶ chunks
    * (≈24M whitespace tokens at the 24-token stride) before doc_id
    * collision; the Spark side raises on violation rather than silently
    * colliding (the oracle replays the same packing, so a collision
    * would otherwise agree across engines and pass the gate).
    */
  private[graft] val RagKeyMult = 1000000L

  /** RAG retrieval + context assembly — the seventh composition row,
    * chaining the chunking tier into the retrieval stack the way a
    * retrieval-augmented serving path actually runs: chunk every document
    * into [[ChunkSize]]/[[ChunkStride]] overlapping windows
    * ([[chunkedDocs]]), score each CHUNK against the query terms with the
    * exact-rational BM25 kernel ([[bm25TopK]] — chunk-level retrieval is
    * what makes RAG work on long documents; whole-doc BM25 is
    * `text_bm25_topk` beside it), then pack the ranked chunks into a
    * [[RagBudget]]-token context window: cumulative token count in rank
    * order, cut at the budget — retrieval ends where the context window
    * fills, exactly the serving-side packing rule. Chunk identity rides a
    * packed key (doc_id·[[RagKeyMult]] + chunk_id, with a raise_error
    * guard on overflow — a silent collision would agree with the
    * oracle's identical packing and PASS the gate, so the engine fails
    * loudly instead) and is decomposed back to (src_doc, chunk_id)
    * provenance in the output. Scale shape:
    * chunking is the map-only pass, BM25 is one corpus aggregate + a
    * top-k (TakeOrdered — never a global sort of the corpus), and the
    * budget window runs over K ≤ 20 rows. The oracle replays chunking
    * (generate_series/list_slice), the full BM25 arithmetic in the same
    * fixed term order, and the cumulative budget cut.
    */
  /** Packed-key chunk corpus shared by the RAG rows: chunk identity rides
    * doc_id·[[RagKeyMult]] + chunk_id. Both packing factors are guarded:
    * chunk_id < RagKeyMult keeps the chunk slot in range, and
    * doc_id STRICTLY BELOW Long.MaxValue / RagKeyMult keeps the product
    * PLUS the chunk addend from wrapping under Spark's non-ANSI multiply
    * (ADVICE r15; strict because at equality the product alone fits but
    * product + chunk_id can still exceed Long.MaxValue): the max packed
    * key is then (Max/M - 1)*M + (M - 1) = (Max/M)*M - 1 <= Max.
    */
  private[graft] def ragChunkCorpus(s: SparkSession, d: String): DataFrame =
    chunkedDocs(s, d).select(
      when(col("chunk_id") < RagKeyMult &&
           col("doc_id") < lit(Long.MaxValue / RagKeyMult),
          col("doc_id") * RagKeyMult + col("chunk_id"))
        .otherwise(raise_error(concat(
          lit("pipeline_rag: doc "), col("doc_id").cast("string"),
          lit(s" exceeds $RagKeyMult chunks or the packed-key range — " +
            "widen RagKeyMult"))))
        .as("doc_id"),
      array_join(col("chunk"), " ").as("text"))

  private def pipelineRag(s: SparkSession, d: String): DataFrame = {
    val top = bm25TopK(ragChunkCorpus(s, d), RagTerms, RagK)
    val w = Window.orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    top.withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= RagBudget)
      .select(col("rnk"),
        expr(s"doc_id div $RagKeyMult").as("src_doc"),
        (col("doc_id") % RagKeyMult).cast("int").as("chunk_id"),
        col("n_tokens"),
        col("cum_tokens").cast("long").as("cum_tokens"),
        col("bm25"))
      .orderBy(col("rnk"))
  }

  /** The retrieval batch for [[pipelineRagBatch]]: real RAG serving
    * scores a query BATCH per corpus pass, not one query at a time. Term
    * lists deliberately overlap so the shared-tf-pass path (the distinct
    * term UNION) is exercised.
    */
  private[graft] val RagBatch: Seq[(Int, Seq[String])] = Seq(
    1 -> Seq("merge", "filter", "spark"),
    2 -> Seq("vector", "stream"),
    3 -> Seq("customer", "merge"))

  /** Per-query results kept by [[pipelineRagBatch]]. */
  private val RagBatchK = 5

  /** Batched chunk-level BM25 retrieval — [[pipelineRag]]'s grouped
    * sibling (VERDICT r15 item 8): ONE tf pass over the distinct term
    * union of the whole batch, one corpus-stats aggregate (n, sumlen,
    * per-term df), then every query's score in a single projection and
    * per-query top-k via the rank-filter group-limit idiom. Scale shape:
    * the tf pass is map-only (|union| tf columns, each a filtered size
    * over the already-split word array); the stats frame is 1 row,
    * broadcast; per-query scores fan out as an explode of |batch|
    * structs per chunk, and the row_number ≤ k filter plans as
    * WindowGroupLimit (Spark 3.5+): each map partition keeps only its
    * own top-k per query BEFORE the exchange, so the query_id shuffle
    * carries ≤ partitions·|batch|·k rows — never the |batch|·corpus
    * fan-out — and the final per-group limit runs on that bounded set.
    * Per-term addition order inside a score is the query's own term
    * order (reduceLeft ⟷ the oracle's left-assoc +), so the doubles
    * match bit for bit.
    */
  private[graft] def pipelineRagBatch(s: SparkSession, d: String): DataFrame = {
    val allTerms = RagBatch.flatMap(_._2).distinct
    val idx = allTerms.zipWithIndex.toMap
    val withTf = allTerms.zipWithIndex.foldLeft(
      ragChunkCorpus(s, d)
        .select(col("doc_id"), TF.words(col("text")).as("ws"))
        .withColumn("len", size(col("ws")).cast("long"))) {
      case (df, (t, i)) =>
        df.withColumn(s"tf$i",
          size(filter(col("ws"), x => x === lit(t))).cast("long"))
    }.drop("ws")
    val stats = withTf.agg(
      count(lit(1)).as("n"),
      sum(col("len")).as("sumlen") +:
        allTerms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    val avglen = col("sumlen").cast("double") / col("n").cast("double")
    val norm = lit(0.25) + lit(0.75) * (col("len").cast("double") / avglen)
    def term(i: Int): Column = {
      val tfD = col(s"tf$i").cast("double")
      val idf = ((col("n") - col(s"df$i")).cast("double") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      idf * ((tfD * lit(2.5)) / (tfD + lit(1.5) * norm))
    }
    val scored = withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("len").as("n_tokens"),
        explode(array(RagBatch.map { case (qid, terms) =>
          struct(lit(qid).as("query_id"),
            terms.map(t => term(idx(t))).reduceLeft(_ + _).as("s"))
        }: _*)).as("q"))
      .select(col("q.query_id").as("query_id"), col("doc_id"),
        col("n_tokens"), col("q.s").as("s"))
    val win = Window.partitionBy(col("query_id"))
      .orderBy(col("s").desc, col("doc_id"))
    scored.withColumn("rnk", row_number().over(win))
      .filter(col("rnk") <= RagBatchK)
      .select(col("query_id"), col("rnk").cast("int").as("rnk"),
        expr(s"doc_id div $RagKeyMult").as("src_doc"),
        (col("doc_id") % RagKeyMult).cast("int").as("chunk_id"),
        col("n_tokens"), round(col("s"), 6).as("bm25"))
      .orderBy(col("query_id"), col("rnk"))
  }

  /** One BM25 term's score SQL, step-for-step [[pipelineRagBatch]]'s
    * `term(i)` (same association order — every op an exactly-rounded
    * IEEE step, so the doubles are bit-identical).
    */
  private def bm25TermSql(i: Int): String =
    s"""(CAST(st.n - st.df$i AS DOUBLE) + 0.5) / (CAST(st.df$i AS DOUBLE) + 0.5)
            * ((CAST(tf$i AS DOUBLE) * 2.5) / (CAST(tf$i AS DOUBLE)
               + 1.5 * (0.25 + 0.75 * (CAST(t.len AS DOUBLE)
                 / (CAST(st.sumlen AS DOUBLE) / CAST(st.n AS DOUBLE))))))"""

  /** Generated oracle for [[pipelineRagBatch]]: the chunk corpus CTEs,
    * tf/df over the batch's distinct term union (same indexes as the
    * engine side), one UNION ALL branch per query, rank-filtered top-k.
    */
  private def ragBatchOracleSql: String = {
    val allTerms = RagBatch.flatMap(_._2).distinct
    val idx = allTerms.zipWithIndex.toMap
    val tfCols = allTerms.zipWithIndex.map { case (t, i) =>
      s"CAST(len(list_filter(ws, x -> x = '$t')) AS BIGINT) AS tf$i"
    }.mkString(",\n               ")
    val dfCols = allTerms.indices.map(i =>
      s"CAST(SUM(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df$i")
      .mkString(",\n               ")
    val branches = RagBatch.map { case (qid, terms) =>
      val score = terms.map(t => bm25TermSql(idx(t))).mkString("\n          + ")
      s"""SELECT $qid AS query_id, t.doc_id, t.len AS n_tokens,
          $score AS s
        FROM t, st"""
    }.mkString("\n        UNION ALL\n        ")
    s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
               1 + CAST((greatest(len(string_split_regex(trim(text), '\\s+'))
                                    - $ChunkSize, 0)
                         + ${ChunkStride - 1}) // $ChunkStride AS INT)
                 AS nchunks
        FROM documents),
      ch AS (
        SELECT doc_id, unnest(generate_series(0, nchunks - 1)) AS chunk_id, w
        FROM toks),
      cdocs AS (
        SELECT doc_id * $RagKeyMult + chunk_id AS doc_id,
               array_to_string(
                 list_slice(w, chunk_id * $ChunkStride + 1,
                            chunk_id * $ChunkStride + $ChunkSize), ' ') AS text
        FROM ch),
      w AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws FROM cdocs),
      t AS (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS len,
               $tfCols
        FROM w),
      st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(len) AS BIGINT) AS sumlen,
               $dfCols
        FROM t),
      sc AS (
        $branches),
      ranked AS (
        SELECT query_id, doc_id, n_tokens, s,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY s DESC, doc_id) AS rnk
        FROM sc)
      SELECT CAST(query_id AS INT) AS query_id, CAST(rnk AS INT) AS rnk,
             doc_id // $RagKeyMult AS src_doc,
             CAST(doc_id % $RagKeyMult AS INT) AS chunk_id,
             n_tokens, round(s, 6) AS bm25
      FROM ranked WHERE rnk <= $RagBatchK
      ORDER BY query_id, rnk"""
  }

  /** Quality scoring: length / punctuation / stopword / word-shape ratios. */
  private def textQuality(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      length(col("text")).as("n_chars_calc"),
      TF.punctRatio(col("text")).as("punct_ratio"),
      TF.stopwordRatio(col("text")).as("stopword_ratio"),
      TF.avgWordLen(col("text")).as("avg_word_len"))
      .orderBy(col("doc_id"))

  /** Language ID via stopword-marker heuristic, compared to the label. */
  private def textLangId(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      col("lang"),
      TF.langIdHeuristic(col("text")).as("lang_pred"))
      .orderBy(col("doc_id"))

  /** Deterministic document fingerprint (md5 of normalized text) —
    * the oracle-checkable half of fingerprinting.
    */
  private def textFingerprint(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(
      col("doc_id"),
      md5(TF.normText(col("text")).cast("binary")).as("fp_md5"))
      .orderBy(col("doc_id"))

  /** Native-Expression fingerprint consistency gate. The FNV/rolling-hash
    * families exist only in this JVM, so per-doc values are oracle-
    * inexpressible (golden-value + property specs pin them in ScalaTest);
    * what the driver CAN gate is their functional contract over the whole
    * corpus: determinism (equal normalized text ⇒ equal fingerprint,
    * across partitions and the codegen/interpreted paths) and
    * collision-freedom of the rolling hash on the fixture. Both reduce to
    * count-distinct identities DuckDB verifies from the text alone —
    * `n_roll == n_texts` fails on any collision OR any nondeterminism,
    * `sim_deterministic` fails if simhash ever maps one text to two
    * values (simhash may collide across near-dup texts by design, so only
    * determinism is asserted for it).
    */
  private def textFingerprintNative(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d).select(TF.normText(col("text")).as("norm"))
      .select(col("norm"),
        GraftFunctions.rolling_hash(col("norm")).as("fp_rolling"),
        GraftFunctions.simhash64(split(col("norm"), " ")).as("fp_simhash"))
    base.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("norm")).as("n_texts"),
      (countDistinct(col("fp_rolling")) === countDistinct(col("norm")))
        .as("roll_injective"),
      (countDistinct(struct(col("norm"), col("fp_simhash"))) ===
        countDistinct(col("norm"))).as("sim_deterministic"))
  }

  /** Deterministic content-addressed sampling: a doc is in the sample iff
    * the first hex digit of md5(text) falls in a fixed set — reproducible
    * across runs, engines, partitionings, and cluster sizes (unlike
    * seed-based `df.sample`, whose draw depends on partitioning). The
    * standard way to carve stable eval/holdout slices from a 100 TB corpus;
    * 2 of 16 digits ≈ 12.5% expected rate.
    */
  private def sampleHash(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .filter(substring(md5(col("text")), 1, 1).isin("0", "1"))
      .agg(count(lit(1)).as("n_sampled"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"))

  /** Deterministic STRATIFIED sampling: per-stratum rates through the same
    * content-addressed carve as [[sampleHash]] — rebalances a skewed corpus
    * (downsample the majority language, keep most of the tail) while
    * staying reproducible across engines, partitionings, and cluster
    * sizes. Trick: md5 renders as fixed-width lowercase hex in both Spark
    * and DuckDB, so a lexicographic prefix comparison IS a numeric
    * threshold on the first hash byte — 'en' keeps md5[0:2) < 0x40 (25%
    * expected), every other language < 0xc0 (75%) — no seeded RNG, no
    * partitioning dependence, and membership of a given doc never changes
    * as the corpus grows.
    */
  private def sampleStratified(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .filter(substring(md5(col("text")), 1, 2) <
        when(col("lang") === "en", lit("40")).otherwise(lit("c0")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("lang"))

  /** Leakage-aware train/val/test split: the split key is the SOURCE,
    * not the document, so near-duplicates and shared boilerplate WITHIN
    * a source can never straddle splits (the classic eval-leak that a
    * per-document random split causes). Same content-addressed carve as
    * [[sampleHash]] — membership is a pure function of md5(source)
    * compared against fixed-width lowercase-hex thresholds (~80/10/10),
    * so the assignment is engine-, partitioning-, and corpus-growth-
    * stable: adding documents never moves an existing source between
    * splits. Map-only until the final small aggregate; disjointness is
    * by construction (split is a FUNCTION of source).
    */
  private def sampleSplitGrouped(s: SparkSession, d: String): DataFrame = {
    val hex = substring(md5(col("source")), 1, 4)
    docs(s, d)
      .withColumn("split",
        when(hex < "cccc", "train").when(hex < "e666", "val")
          .otherwise("test"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("split"))
  }

  /** Balanced training-shard packing: the distributed stand-in for
    * first-fit-decreasing (which is inherently sequential — and a single
    * global row_number window would funnel every row through ONE
    * partition). Instead: 16 parallel ranking groups keyed by the first
    * md5 hex digit of the text (engine-agnostic, like [[sampleHash]]);
    * within each group docs are striped round-robin across shards in
    * descending token order (LPT stripe), with the group index as a
    * starting-shard offset so the per-group largest docs don't all land
    * on shard 0. Per-group imbalance is bounded by one max-doc, so total
    * shard spread ≤ 16 max-docs — negligible against 100 TB shard totals
    * — while the window carries only (doc_id, tok, salt) projections and
    * parallelizes 16-way. Fully deterministic: (tok desc, doc_id) totally
    * orders each group, so the DuckDB formulation agrees row-for-row.
    */
  private def packShards(s: SparkSession, d: String): DataFrame = {
    val nShards = 8
    val base = docs(s, d).select(
      col("doc_id"), col("n_chars"),
      TF.tokenCountWs(col("text")).as("tok_ws"),
      substring(md5(col("text")), 1, 1).as("salt"))
    val w = Window.partitionBy(col("salt"))
      .orderBy(col("tok_ws").desc, col("doc_id"))
    base
      .withColumn("g", expr("instr('0123456789abcdef', salt) - 1"))
      .withColumn("shard",
        pmod(row_number().over(w) - 1 + col("g"), lit(nShards)).cast("int"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_ws")).cast("long").as("sum_tokens"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
      .orderBy(col("shard"))
  }

  /** Corpus cleaning: strip URLs and e-mail addresses, collapse runs of
    * whitespace — the standard pre-tokenization scrub. Patterns avoid
    * lookaround so Java and RE2-family engines agree exactly.
    */
  private def textClean(s: SparkSession, d: String): DataFrame = {
    val cleaned = trim(regexp_replace(regexp_replace(regexp_replace(
      col("text"),
      "https?://[^\\s]+", " "),
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", " "),
      "\\s+", " "))
    docs(s, d).select(
      col("doc_id"),
      length(col("text")).cast("int").as("n_raw"),
      length(cleaned).cast("int").as("n_clean"),
      substring(cleaned, 1, 40).as("clean_head"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc distinct shingle count of benchmark n-gram overlap — the
    * reusable decontamination kernel (see [[textDecontaminate]] for the
    * oracle-checked fixture instantiation). `benchDocs` is the EXTERNAL
    * eval/benchmark corpus — any DataFrame with a `text` column (read it
    * from whatever path/table holds the eval sets); `trainDocs` needs
    * (`doc_id`, `text`).
    *
    * Scale shape: the benchmark side is distinct-shingle-reduced and
    * broadcast — but ONLY under a checked size bound. Real eval sets are
    * MBs against a 100 TB corpus, so the broadcast normally holds; the
    * guard (one count() job over the small side, trivial next to the
    * corpus pass) makes the contract explicit instead of assumed — an
    * oversized "benchmark" falls back to a shuffle join rather than
    * OOM-ing every executor. With the broadcast in place the corpus side
    * is a map-only probe — no corpus shuffle, no inverted-index
    * self-join; the only exchange is the per-doc hit-count aggregation on
    * the (tiny) contaminated subset. Plan-asserted broadcast in
    * ExtensionsSpec.
    */
  def decontaminate(trainDocs: DataFrame, benchDocs: DataFrame, n: Int = 5,
                    maxBroadcastShingles: Long = 50L * 1000 * 1000): DataFrame = {
    val bench = benchDocs
      .select(explode(
        GraftFunctions.word_shingles(TF.words(col("text")), n)).as("shingle"))
      .distinct()
    val broadcastable = bench.count() <= maxBroadcastShingles
    val benchSide = if (broadcastable) broadcast(bench) else bench
    val train = trainDocs.select(col("doc_id"),
      explode(GraftFunctions.word_shingles(TF.words(col("text")), n))
        .as("shingle"))
    // per-doc shingles and the bench set are both distinct, so count(*)
    // counts distinct shared shingles exactly
    train.join(benchSide, Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-prefiltered decontamination — the scale tier for when the
    * bench shingle SET outgrows [[decontaminate]]'s broadcast bound. The
    * result is still EXACT: a Bloom filter has no false negatives, so
    * probing it map-side yields a candidate superset, and the residual
    * exact join against the real shingle set recovers the truth — only
    * now the corpus side of that shuffle carries true hits + fpp·probes
    * instead of every corpus shingle. The bits are what travel: 50M
    * shingles at 1% fpp is ~60 MB of bloom vs GBs of strings, so the
    * broadcast holds an order of magnitude past the string-set bound,
    * and the shuffle shrinks ~100× (at 1% fpp) on a clean corpus. The
    * probe is a native codegen expression over the broadcast sketch
    * ([[graft.functions.BloomMightContain]]) — Spark's own bloom
    * expression is engine-internal (runtime join filters, sketch as an
    * aggregated binary column), so the probe carries the broadcast
    * handle itself and stays inside the scan's WholeStageCodegen span
    * (plan-asserted in OperatorsSpec) instead of paying per-row lambda
    * dispatch on the corpus-sized shingle stream.
    */
  def decontaminateBloom(trainDocs: DataFrame, benchDocs: DataFrame,
                         n: Int = 5, fpp: Double = 0.01): DataFrame = {
    val s = trainDocs.sparkSession
    val bench = benchDocs
      .select(explode(
        GraftFunctions.word_shingles(TF.words(col("text")), n)).as("shingle"))
      .distinct()
    val bf = bench.stat.bloomFilter("shingle", math.max(bench.count(), 1L), fpp)
    val bc = s.sparkContext.broadcast(bf)
    GraftFunctions.withBloomProbe(s, bc) { probe =>
      trainDocs.select(col("doc_id"),
          explode(GraftFunctions.word_shingles(TF.words(col("text")), n))
            .as("shingle"))
        .filter(probe(col("shingle")))
        .join(bench, Seq("shingle"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_hits"))
        .orderBy(col("doc_id"))
    }
  }

  /** Token-level decontamination FRACTION — the scrubbing report real
    * eval hygiene needs (GPT-3 §B / Llama-style): [[decontaminate]]'s
    * binary contains-gate says "this doc shares ≥1 benchmark 13-gram";
    * this one reports what FRACTION of each doc's distinct n-gram
    * shingles hit the benchmark set and verdicts the doc against a drop
    * threshold — an exact-duplicate of an eval item reads 1.0, an
    * incidental idiom collision reads ~1/n_shingles, and only the former
    * should die.
    *
    * Scale shape: ONE corpus pass — the per-doc distinct-shingle total
    * rides the explode as a carried column (one int next to the shingle
    * string, computed map-side from the same array), so no second
    * text-normalization pass and no totals-vs-hits join. The bench side
    * is the same checked-bound broadcast as [[decontaminate]]; the only
    * exchange is the per-doc hit aggregation over the (tiny) hit stream.
    * Emits ONLY contaminated docs (≥1 hit): at 100 TB the zero-hit
    * complement is corpus-sized noise, and "not in the report" IS its
    * verdict.
    */
  def decontaminateFraction(trainDocs: DataFrame, benchDocs: DataFrame,
                            n: Int = 5, dropAt: Double = 0.5,
                            maxBroadcastShingles: Long = 50L * 1000 * 1000)
      : DataFrame = {
    val bench = benchDocs
      .select(explode(
        GraftFunctions.word_shingles(TF.words(col("text")), n)).as("shingle"))
      .distinct()
    val broadcastable = bench.count() <= maxBroadcastShingles
    val benchSide = if (broadcastable) broadcast(bench) else bench
    val train = trainDocs
      .select(col("doc_id"),
        GraftFunctions.word_shingles(TF.words(col("text")), n).as("shs"))
      .select(col("doc_id"), size(col("shs")).as("n_shingles"),
        explode(col("shs")).as("shingle"))
    // shingles are per-doc distinct (kernel contract) and the bench set
    // is distinct, so count(*) is the exact distinct-overlap numerator
    train.join(benchSide, Seq("shingle"))
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_hits"))
      .withColumn("frac",
        col("n_hits").cast("double") / col("n_shingles"))
      .withColumn("dropped", col("frac") >= dropAt)
      .orderBy(col("doc_id"))
  }

  /** The fraction report at the BLOOM tier — [[decontaminateFraction]]
    * for a bench set past [[decontaminate]]'s broadcast bound, composed
    * from [[decontaminateBloom]]'s prefilter: the corpus shingle stream
    * (still carrying its per-doc divisor as a ride-along column) probes
    * the broadcast sketch map-side inside the scan's codegen span, and
    * only true hits + fpp·probes reach the residual exact join against
    * the real bench set — which restores exactness (bloom has no false
    * negatives), so the emitted fractions are identical to the exact
    * tier's. Same output contract: contaminated docs only.
    */
  def decontaminateFractionBloom(trainDocs: DataFrame, benchDocs: DataFrame,
                                 n: Int = 5, dropAt: Double = 0.5,
                                 fpp: Double = 0.01): DataFrame = {
    val s = trainDocs.sparkSession
    val bench = benchDocs
      .select(explode(
        GraftFunctions.word_shingles(TF.words(col("text")), n)).as("shingle"))
      .distinct()
    val bf = bench.stat.bloomFilter("shingle", math.max(bench.count(), 1L), fpp)
    val bc = s.sparkContext.broadcast(bf)
    GraftFunctions.withBloomProbe(s, bc) { probe =>
      trainDocs
        .select(col("doc_id"),
          GraftFunctions.word_shingles(TF.words(col("text")), n).as("shs"))
        .select(col("doc_id"), size(col("shs")).as("n_shingles"),
          explode(col("shs")).as("shingle"))
        .filter(probe(col("shingle")))
        .join(bench, Seq("shingle"))
        .groupBy(col("doc_id"), col("n_shingles"))
        .agg(count(lit(1)).as("n_hits"))
        .withColumn("frac",
          col("n_hits").cast("double") / col("n_shingles"))
        .withColumn("dropped", col("frac") >= dropAt)
        .orderBy(col("doc_id"))
    }
  }

  /** SPAN-LEVEL decontamination SCRUB — the surgical tier of the family:
    * [[decontaminate]] gates, [[decontaminateFraction]] reports, this one
    * EXCISES — every word position covered by a benchmark n-gram match is
    * removed and the document is rebuilt from the surviving words (the
    * eval-string-scrubbing pass pipelines run when dropping whole
    * documents would cost too much good text). Emits one row per
    * CONTAMINATED doc (report-sized output, the family contract):
    * original word count, scrubbed-position count, and the head of the
    * rebuilt text.
    *
    * Scale shape: the positional shingle explode is map-only into the
    * checked-bound broadcast bench join (positions ride as one int, the
    * doc never travels); hit positions aggregate report-sized; the
    * covered-position sets broadcast BACK onto the corpus scan, so the
    * rebuild (index-filtered words, a higher-order lambda) runs only on
    * contaminated rows. One corpus pass, no corpus shuffle.
    */
  def decontaminateScrub(trainDocs: DataFrame, benchDocs: DataFrame,
                         n: Int = 5,
                         maxBroadcastShingles: Long = 50L * 1000 * 1000)
      : DataFrame = {
    val bench = benchDocs
      .select(explode(
        GraftFunctions.word_shingles(TF.words(col("text")), n)).as("shingle"))
      .distinct()
    val broadcastable = bench.count() <= maxBroadcastShingles
    val benchSide = if (broadcastable) broadcast(bench) else bench
    // 1-based shingle start positions — NOT distinct-reduced: a shingle
    // recurring at two positions must scrub both spans
    val posed = trainDocs
      .select(col("doc_id"), TF.words(col("text")).as("ws"))
      .filter(size(col("ws")) >= n)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("ws")) - (n - 1)),
        i => struct(i.as("pos"),
          concat_ws(" ", slice(col("ws"), i, lit(n))).as("shingle"))))
        .as("ps"))
      .select(col("doc_id"), col("ps.pos").as("pos"),
        col("ps.shingle").as("shingle"))
    val cov = posed.join(benchSide, Seq("shingle"))
      .select(col("doc_id"),
        sequence(col("pos"), col("pos") + (n - 1)).as("cseq"))
      .groupBy(col("doc_id"))
      .agg(array_distinct(flatten(collect_list(col("cseq")))).as("cpos"))
    trainDocs.select(col("doc_id"), TF.words(col("text")).as("ws"))
      .join(broadcast(cov), Seq("doc_id"))
      .select(col("doc_id"),
        size(col("ws")).as("n_words"),
        size(col("cpos")).as("n_scrubbed"),
        substring(concat_ws(" ",
          filter(col("ws"), (w, i) => {
            val _ = w; !array_contains(col("cpos"), i + 1)
          })), 1, 60).as("scrub_head"))
      .orderBy(col("doc_id"))
  }

  /** Fixture instantiation of [[decontaminateScrub]] — the same carve
    * split as the other decontamination rows: exact-dup contamination
    * scrubs to nothing, idiom collisions lose only their matched spans.
    */
  private def textDecontaminateScrub(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .select(col("doc_id"), col("text"),
        substring(md5(col("text")), 1, 1).as("carve"))
    decontaminateScrub(
      base.filter(col("carve") =!= "0").select(col("doc_id"), col("text")),
      base.filter(col("carve") === "0").select(col("text")))
  }

  /** Fixture instantiation of [[decontaminateFraction]] — same 1/16
    * md5-carved bench slice as [[textDecontaminate]]; threshold 0.5
    * splits the fixture non-vacuously at BOTH gate tiers (sf0.01: the
    * two exact-dup docs drop at 1.0, the two idiom collisions keep at
    * ≤0.04; sf0.1: 27 drop / 114 keep).
    */
  private def textDecontaminateFraction(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .select(col("doc_id"), col("text"),
        substring(md5(col("text")), 1, 1).as("carve"))
    decontaminateFraction(
      base.filter(col("carve") =!= "0").select(col("doc_id"), col("text")),
      base.filter(col("carve") === "0").select(col("text")))
  }

  /** Fixture instantiation of [[decontaminateFractionBloom]] — the same
    * carve split, so it shares `text_decontaminate_frac`'s oracle: the
    * bloom prefilter + residual exact join must emit bit-identical
    * fractions to the exact broadcast tier.
    */
  private def textDecontaminateFractionBloom(s: SparkSession, d: String)
      : DataFrame = {
    val base = docs(s, d)
      .select(col("doc_id"), col("text"),
        substring(md5(col("text")), 1, 1).as("carve"))
    decontaminateFractionBloom(
      base.filter(col("carve") =!= "0").select(col("doc_id"), col("text")),
      base.filter(col("carve") === "0").select(col("text")))
  }

  /** Fixture instantiation of [[decontaminateBloom]] — same 1/16
    * content-addressed carve as [[textDecontaminate]], same oracle (the
    * bloom tier is exact by construction, so the two rows sharing one
    * oracle IS the claim being checked).
    */
  private def textDecontaminateBloom(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .select(col("doc_id"), col("text"),
        substring(md5(col("text")), 1, 1).as("carve"))
    decontaminateBloom(
      base.filter(col("carve") =!= "0").select(col("doc_id"), col("text")),
      base.filter(col("carve") === "0").select(col("text")))
  }

  /** Benchmark decontamination — the training-pipeline step that scrubs
    * eval-set leakage before training (GPT-3 §B / PaLM-style n-gram
    * overlap). Fixture instantiation of [[decontaminate]]: this repo has
    * no external eval set, so the "benchmark" slice is carved
    * content-addressed from the corpus itself (first md5 hex digit '0',
    * ~1/16 — same engine-agnostic carve as [[sampleHash]], so the split
    * is reproducible and oracle-expressible). The 1/16 carve is a fixture
    * STAND-IN that scales with the corpus; production callers pass the
    * real (bounded, MBs) eval tables to [[decontaminate]], whose size
    * guard enforces the broadcast contract either way.
    */
  private def textDecontaminate(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
      .select(col("doc_id"), col("text"),
        substring(md5(col("text")), 1, 1).as("carve"))
    decontaminate(
      base.filter(col("carve") =!= "0").select(col("doc_id"), col("text")),
      base.filter(col("carve") === "0").select(col("text")))
  }

  /** Most-frequent-element count of a string array: the native
    * [[graft.functions.HashImpls.maxRunCount]] kernel (sort a local copy,
    * longest equal-adjacent run = top multiplicity — O(n log n)/row,
    * codegen'd, zero lambda dispatch). Two prior forms were measured and
    * rejected: `transform(distinct, x -> count(filter(arr, = x)))` is
    * O(distinct·n) interpreted lambda calls (~10× slower at fixture
    * scale), and the sorted-fold `aggregate` lambda — though
    * algorithmically identical to the kernel — still paid 2 interpreted
    * lambda invocations + a boxed struct accumulator per element and was
    * the slowest query in the r5 bench (28.5 s at sf0.1).
    */
  private def maxRunCount(arr: Column): Column =
    GraftFunctions.max_run_count(arr)

  /** Repetition scoring — the within-document repetition signals of the
    * Gopher/MassiveText quality rules (duplicate-word fraction, most
    * frequent word / bigram mass). Pure per-row array algebra over the
    * normalized word list: shuffle-free, linear-ish (n log n) in document
    * length via [[maxRunCount]] — an early win for dropping degenerate
    * boilerplate before any pairwise dedup runs.
    */
  private def textRepetition(s: SparkSession, d: String): DataFrame = {
    val w = TF.words(col("text"))
    val n = size(w)
    val topWord = maxRunCount(w)
    val bg = zip_with(slice(w, lit(1), n - 1), slice(w, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    val topBigram = maxRunCount(bg)
    docs(s, d).select(
      col("doc_id"),
      n.cast("int").as("n_words"),
      size(array_distinct(w)).cast("int").as("n_distinct"),
      when(n > 0, lit(1.0) - lit(1.0) * size(array_distinct(w)) / n)
        .otherwise(lit(0.0)).as("dup_ratio"),
      when(n > 0, lit(1.0) * topWord / n).otherwise(lit(0.0))
        .as("top_word_frac"),
      when(n >= 2, lit(1.0) * topBigram / (n - 1)).otherwise(lit(0.0))
        .as("top_bigram_frac"))
      .orderBy(col("doc_id"))
  }

  /** PII redaction — the compliance scrub every training corpus passes
    * through before the cleaning/dedup stages: e-mail addresses, phone
    * numbers, and IPv4 literals are replaced with typed placeholder
    * tokens, and per-doc hit counts are kept for audit. Pure per-row
    * regexp projection: shuffle-free, linear, whole-stage codegen.
    * Patterns avoid lookaround so the Java and RE2 regex families agree
    * exactly (same constraint as [[textClean]]).
    */
  private def textPiiRedact(s: SparkSession, d: String): DataFrame = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phone = "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b"
    val ipv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    // the fixture corpus is PII-free, which would make redaction vacuous —
    // plant deterministic doc-keyed PII spans (same expression in the
    // oracle) so every row exercises real match + replace work
    val planted = concat(col("text"),
      lit(" contact user"), col("doc_id"), lit("@example.com from 10.0."),
      pmod(col("doc_id"), lit(256)), lit(".7 or 555-867-5309"))
    // count the specific shapes BEFORE any replacement, then redact
    // most-specific-first so one span is never double-redacted
    val redacted = regexp_replace(regexp_replace(regexp_replace(
      planted, email, "[EMAIL]"), ipv4, "[IP]"), phone, "[PHONE]")
    docs(s, d).select(
      col("doc_id"),
      regexp_count(planted, lit(email)).cast("int").as("n_emails"),
      regexp_count(planted, lit(phone)).cast("int").as("n_phones"),
      regexp_count(planted, lit(ipv4)).cast("int").as("n_ips"),
      right(redacted, lit(80)).as("redacted_tail"))
      .orderBy(col("doc_id"))
  }

  /** Corpus n-gram statistics: global top-50 word bigrams — the n-gram LM
    * side of vocabulary building (and the global twin of the per-doc
    * top-bigram mass in [[textRepetition]]). Map-side bigram explode into
    * a two-phase count aggregate; final top-k is a TakeOrderedAndProject,
    * never a global sort of the bigram table.
    */
  private def textNgramStats(s: SparkSession, d: String): DataFrame = {
    val w = TF.words(col("text"))
    val n = size(w)
    val bg = zip_with(slice(w, lit(1), n - 1), slice(w, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    docs(s, d)
      .select(explode(bg).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("bigram"))
      .limit(50)
  }

  /** Per-document n-gram NOVELTY — the fraction of a document's distinct
    * word 3-grams whose corpus-wide first occurrence (min doc_id) is this
    * document. The curation signal behind "how much does the tail of my
    * corpus still add?": near-zero novelty marks boilerplate and
    * template mass that dedup thresholds miss, and the corpus-order
    * novelty curve is the standard diminishing-returns diagnostic for
    * data acquisition. Shapes at 100 TB: one explode feeds a TWO-PHASE
    * min per gram (map-side partial min, one shuffle on the hashed
    * gram), first-owners join back on the same gram key (hot grams
    * colocate but each matches exactly one first-owner row), and the
    * per-doc ratio is a second two-phase aggregate — no windows, no
    * driver state. Grams travel as xxhash64 longs (the [[Dedup]] index
    * convention): a cross-gram collision only merges two first-owner
    * entries (~2^-64 per pair), and the 8-byte key halves both shuffles.
    */
  private def textNovelty(s: SparkSession, d: String): DataFrame = {
    val ex = docs(s, d)
      .select(col("doc_id"),
        explode(GraftFunctions.word_shingles(TF.words(col("text")), 3))
          .as("g0"))
      .select(col("doc_id"), xxhash64(col("g0")).as("g"))
    val first = ex.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    ex.join(first, Seq("g"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(lit(1.0) * col("n_novel") / col("n_grams"), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** The corpus-order NOVELTY CURVE — [[textNovelty]] aggregated into
    * acquisition deciles: bucket documents by ingestion order (doc_id
    * range deciles), and report each decile's marginal new-gram fraction
    * (grams whose corpus-wide FIRST owner falls in that decile, over the
    * decile's total distinct-per-doc gram mass). The curve's slope is
    * the data-acquisition stopping diagnostic proper: when the marginal
    * decile's novelty flattens, new data is re-buying existing grams.
    * Decile assignment is closed-form integer arithmetic off a 1-row
    * broadcast max frame (min(9, 10·doc_id div (max+1))) — no ntile
    * window funneling the corpus through one partition. Same two-shuffle
    * shape as [[textNovelty]]; the output is always exactly the
    * occupied deciles (10 rows).
    */
  private def textNoveltyCurve(s: SparkSession, d: String): DataFrame = {
    val ex0 = docs(s, d)
      .select(col("doc_id"),
        explode(GraftFunctions.word_shingles(TF.words(col("text")), 3))
          .as("g0"))
      .select(col("doc_id"), xxhash64(col("g0")).as("g"))
    val mx = docs(s, d).agg((max(col("doc_id")) + 1).as("n"))
    val ex = ex0.crossJoin(broadcast(mx))
      .select(col("g"),
        least(lit(9), expr("(doc_id * 10) div n").cast("int"))
          .as("decile"))
    val first = ex.groupBy(col("g")).agg(min(col("decile")).as("first_dec"))
    // marginal novelty = DISTINCT grams debuting in the decile over the
    // decile's total (distinct-per-doc) gram occurrences
    val occ = ex.groupBy(col("decile")).agg(count(lit(1)).as("n_grams"))
    val nw = first.groupBy(col("first_dec").as("decile"))
      .agg(count(lit(1)).as("n_new"))
    occ.join(nw, Seq("decile"), "left")
      .select(col("decile"), col("n_grams"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        round(lit(1.0) * coalesce(col("n_new"), lit(0L)) / col("n_grams"), 6)
          .as("novelty"))
      .orderBy(col("decile"))
  }

  /** Corpus vocabulary extraction: global term and document frequencies,
    * most-frequent-first — the input to tokenizer training and idf
    * weighting. Map-side explode feeds a two-phase count aggregation
    * (partials per split, one shuffle on the term), document frequency
    * rides the same shuffle as a distinct count, and the final top-k is a
    * TakeOrderedAndProject — no global sort of the vocabulary.
    */
  private def textVocab(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), explode(TF.words(col("text"))).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_occ"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occ").desc, col("word"))
      .limit(100)

  /** TF-IDF term extraction: the top-3 most characteristic terms per
    * document under inverse-document-frequency weighting — the classic
    * relevance/keyword primitive feeding retrieval indexes and topic
    * drift monitors. The idf factor is the exact rational 1/df rather
    * than ln(N/df): IEEE division is exactly rounded (bit-identical in
    * both engines) while transcendental log is libm-dependent — the
    * ranking is order-isomorphic for fixed N either way, and the score
    * stays hash-comparable. Shape: the corpus is exploded ONCE into the
    * (doc, term) count aggregate; document frequency is derived FROM that
    * aggregate (tf already holds one row per distinct (doc, term), so
    * df = count per term — no second explode, no distinct over the raw
    * token stream). The tf⋈df join shuffles both sides on the term key —
    * a corpus's full distinct-token table (typos, hashes, noise) is
    * unbounded at 100 TB, so it is NOT broadcast-hinted; AQE converts the
    * join to a broadcast at runtime when the vocabulary actually is
    * small. The per-doc top-3 is a doc-partitioned window over
    * ≤|distinct terms per doc| rows — no global sort.
    */
  private def textTfidf(s: SparkSession, d: String): DataFrame = {
    val w = docs(s, d)
      .select(col("doc_id"), explode(TF.words(col("text"))).as("word"))
    val tf = w.groupBy(col("doc_id"), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val win = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("word"))
    tf.join(dfreq, Seq("word"))
      .withColumn("score", col("tf") * lit(1.0) / col("df"))
      .withColumn("rk", row_number().over(win))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("word"), col("tf"), col("df"),
        col("score"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** BM25 top-k retrieval scoring against a fixed query — the other half
    * of the retrieval-scoring story next to [[textTfidf]]: BM25's term
    * saturation (k1) and length normalization (b) are what production
    * curation uses for eval-set mining and quality-by-query selection,
    * and plain tf·idf has neither. Engine-exactness follows the repo's
    * rational-arithmetic convention: the idf factor is the raw Robertson
    * ratio (N−df+0.5)/(df+0.5) — order-isomorphic to the usual ln form
    * for fixed N, but every op is an exactly-rounded IEEE step instead of
    * a libm-dependent log — k1/b are the exactly-representable 1.5/0.75
    * (so k1+1 = 2.5 is exact), and the per-term scores add in one FIXED
    * written order in both engines (a SUM aggregate would add in
    * partition order and flake the last ulp). Shape: per-term tf and
    * doc length are map-side array ops over ONE tokenization; corpus
    * stats (N, Σlen, per-term df) are a single 1-row aggregate broadcast
    * back (bounded metadata, the IVF-centroid class); scoring is
    * map-side; the top-k is TakeOrdered — no global sort, no shuffle of
    * scored rows. One corpus pass end to end.
    */
  private val Bm25Terms = Seq("vector", "customer", "stream")
  private val Bm25K = 20

  /** Library form: BM25 top-k of `(doc_id, text)` rows against `terms`.
    * See the scaladoc above for the exactness and scale contracts; the
    * per-term scores reduce in left-to-right term order (fixed
    * association — the property PropertySpec pins against a local
    * mirror over random corpora).
    */
  def bm25TopK(docsDf: DataFrame, terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val withTf = terms.zipWithIndex.foldLeft(
      docsDf.select(col("doc_id"), TF.words(col("text")).as("ws"))
        .withColumn("len", size(col("ws")).cast("long"))) {
      case (df, (t, i)) =>
        df.withColumn(s"tf$i",
          size(filter(col("ws"), x => x === lit(t))).cast("long"))
    }.drop("ws")
    val stats = withTf.agg(
      count(lit(1)).as("n"),
      sum(col("len")).as("sumlen") +:
        terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i")): _*)
    val avglen = col("sumlen").cast("double") / col("n").cast("double")
    val norm = lit(0.25) + lit(0.75) * (col("len").cast("double") / avglen)
    def term(i: Int): Column = {
      val tfD = col(s"tf$i").cast("double")
      val idf = ((col("n") - col(s"df$i")).cast("double") + lit(0.5)) /
        (col(s"df$i").cast("double") + lit(0.5))
      idf * ((tfD * lit(2.5)) / (tfD + lit(1.5) * norm))
    }
    val score = terms.indices.map(term).reduceLeft(_ + _)
    val win = Window.orderBy(col("s").desc, col("doc_id"))
    withTf.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("len").as("n_tokens"), score.as("s"))
      .orderBy(col("s").desc, col("doc_id"))
      .limit(k)
      .select(row_number().over(win).cast("int").as("rnk"),
        col("doc_id"), col("n_tokens"), round(col("s"), 6).as("bm25"))
      .orderBy(col("rnk"))
  }

  private def textBm25TopK(s: SparkSession, d: String): DataFrame =
    bm25TopK(docs(s, d).select(col("doc_id"), col("text")),
      Bm25Terms, Bm25K)

  /** Corpus-LM predictability scoring — the CCNet-style "perplexity
    * filter" shape of training-data curation: train an n-gram LM on the
    * corpus itself, score every document by how predictable its text is
    * under that LM, filter the tails. The LM is the bigram conditional
    * c(w1,w2)/c(w1) (c1 counts bigram CONTEXTS, so Σ_w2 P(w2|w1) = 1
    * exactly); a document's score is Σc(w1,w2) / Σc(w1) over its bigram
    * stream — the count-weighted average conditional probability. Both
    * sums are exact longs and the single IEEE division (exactly-rounded)
    * keeps the score hash-identical across engines, where a Σln-based
    * perplexity would be libm-dependent — the same determinism decision
    * as tfidf's rational 1/df idf. Shape: the corpus explodes ONCE into
    * the bigram stream; both LM count tables are hash aggregations off
    * that stream (map-side partial combine); scoring joins the stream
    * back on the bigram key — the LM table is corpus-vocabulary-sized,
    * unbounded at 100 TB, so it is NOT broadcast-hinted (AQE converts
    * when it is actually small) — and one per-doc rollup of longs ends
    * the plan. Linear, no windows, no driver state.
    */
  private def textLmScore(s: SparkSession, d: String): DataFrame =
    lmScored(s, d)
      .select(col("doc_id"), col("n_bigrams"),
        round(col("key"), 6).as("lm_score"))
      .orderBy(col("doc_id"))

  /** Per-document (doc_id, n_bigrams, key) under the corpus bigram LM —
    * the scoring chain shared by [[textLmScore]] and [[textLmBuckets]].
    * `key = Σc(w1,w2) / Σc(w1)` over the document's bigram stream: both
    * sums are exact longs and the single IEEE division (exactly rounded)
    * makes the key bit-identical across engines. Docs with fewer than two
    * words have no bigram stream and drop out here, in both engines.
    */
  private def lmScored(s: SparkSession, d: String): DataFrame = {
    val w = docs(s, d).select(col("doc_id"), TF.words(col("text")).as("ws"))
    val stream = w.filter(size(col("ws")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(ws)-2), i -> struct(ws[i] as w1, ws[i+1] as w2))"))
        .as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = stream.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
    val c1 = stream.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    stream.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("c12")) * lit(1.0) / sum(col("c1"))).as("key"))
  }

  /** CCNet-style perplexity BUCKETING — the carve the LM filter actually
    * ships (Wenzek et al. 2020 §4.3: score against a reference LM, cut
    * the corpus into head/middle/tail thirds at score percentiles, train
    * on head+middle): every document is scored under the corpus bigram
    * LM ([[lmScored]]'s exact rational — HIGH average conditional
    * probability = LOW perplexity = head), the two cut points are
    * DISCRETE score percentiles (actual data keys by construction, the
    * [[Relational.aggHistogramEqDepth]] convention — an interpolated
    * boundary a ulp apart between engines would flip the `<=` cut), and
    * the verdict keeps head+middle. Scale shape: scoring is the linear
    * LM join; the boundaries are ONE percentile aggregate broadcast
    * back; bucketing is a map-only comparison — never a global
    * ntile/rank sort. At 100 TB the exact percentile swaps for
    * `approx_percentile` over a sample (CCNet itself cuts on sampled
    * thresholds) and nothing else changes.
    */
  private def textLmBuckets(s: SparkSession, d: String): DataFrame = {
    // the LM scoring pass feeds both the percentile aggregate and the
    // bucketed output — cache it so one corpus pass serves both (released
    // by the session owner via Caches.releaseAll, the shared-intermediate
    // contract)
    val scored = lmScored(s, d).cache()
    val b = scored.agg(
      expr("percentile_disc(0.333333) WITHIN GROUP (ORDER BY key)").as("t1"),
      expr("percentile_disc(0.666667) WITHIN GROUP (ORDER BY key)").as("t2"))
    scored.crossJoin(broadcast(b))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("key"), 6).as("lm_score"),
        when(col("key") <= col("t1"), "tail")
          .when(col("key") <= col("t2"), "middle")
          .otherwise("head").as("bucket"),
        (col("key") > col("t1")).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Crawl-to-crawl corpus SNAPSHOT DIFF — the ops verb between corpus
    * versions: which documents were added, removed, changed, or left
    * untouched since the last build (the audit every incremental 100 TB
    * re-crawl prints before re-running expensive downstream stages, and
    * the input to "process only what changed" scheduling). Two corpus
    * epochs derive deterministically from the fixture: v1 drops
    * doc_id%10=9, v2 drops %10=0 and revises every %7=0 text. Diff =
    * FULL OUTER join on the document key comparing md5 CONTENT hashes —
    * both sides collapse to (id, hash, length) BEFORE the exchange, so
    * the join shuffles ~24-byte manifest rows, never document bodies;
    * the per-status rollup is report-sized. At scale this is the
    * manifest-diff shape (sort-merge join on the id), reusing the
    * content hash storage/dedup layers already carry.
    */
  private def corpusDiff(s: SparkSession, d: String): DataFrame = {
    val base = docs(s, d)
    val v1 = base.filter(col("doc_id") % 10 =!= 9)
      .select(col("doc_id"), md5(col("text")).as("h1"),
        length(col("text")).cast("long").as("len1"))
    val v2 = base.filter(col("doc_id") % 10 =!= 0)
      .withColumn("text2", when(col("doc_id") % 7 === 0,
        concat(col("text"), lit(" rev2"))).otherwise(col("text")))
      .select(col("doc_id"), md5(col("text2")).as("h2"),
        length(col("text2")).cast("long").as("len2"))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .select(col("doc_id"),
        when(col("h1").isNull, "added")
          .when(col("h2").isNull, "removed")
          .when(col("h1") === col("h2"), "unchanged")
          .otherwise("changed").as("status"),
        coalesce(col("len1"), lit(0L)).as("len1"),
        coalesce(col("len2"), lit(0L)).as("len2"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("doc_id")).as("max_doc"),
        sum(col("len1")).as("chars_v1"),
        sum(col("len2")).as("chars_v2"))
      .orderBy(col("status"))
  }

  /** Corpus token-CONCENTRATION report — the Lorenz-curve data-card
    * metric (what share of the training-token mass sits in the longest
    * documents? — the skew a batch scheduler and a packing stage both
    * need to know): documents bucket into value-deciles of their token
    * count at DISCRETE percentiles (actual data values, the eqdepth
    * convention — no interpolated boundary can sit a ulp apart between
    * engines), then per-decile document and token mass roll up with the
    * cumulative share. Shape: ONE percentile aggregate broadcast back
    * (at 100 TB it swaps for approx_percentile over a sample), map-only
    * bucketing, a two-phase rollup to ≤10 rows, and the cumulative
    * window runs over those ≤10 rows — never a global sort of the
    * corpus. Counts are exact longs; the share is one exactly-rounded
    * IEEE division.
    */
  private def textConcentration(s: SparkSession, d: String): DataFrame = {
    // the token-count pass feeds both the percentile aggregate and the
    // bucketing — cache it (released via Caches.releaseAll, the
    // shared-intermediate contract)
    val toks = docs(s, d)
      .select(col("doc_id"),
        size(TF.words(col("text"))).cast("long").as("tok"))
      .cache()
    val b = toks.agg(
      expr("percentile_disc(0.1) WITHIN GROUP (ORDER BY tok)").as("t1"),
      (2 to 9).map(i =>
        expr(s"percentile_disc(0.$i) WITHIN GROUP (ORDER BY tok)")
          .as(s"t$i")): _*)
    val bucket = (1 to 9).foldRight(lit(9): Column) { (i, els) =>
      when(col("tok") <= col(s"t$i"), lit(i - 1)).otherwise(els)
    }
    val perDecile = toks.crossJoin(broadcast(b))
      .select(bucket.cast("int").as("decile"), col("tok"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("sum_tokens"))
    val cumW = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totW = Window.orderBy(col("decile"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perDecile
      .select(col("decile"), col("n_docs"), col("sum_tokens"),
        sum(col("sum_tokens")).over(cumW).as("cum_tokens"),
        round(sum(col("sum_tokens")).over(cumW) * lit(1.0) /
          sum(col("sum_tokens")).over(totW), 6).as("cum_share"))
      .orderBy(col("decile"))
  }

  /** Vocabulary COVERAGE / OOV-rate report — the data-card metric behind
    * tokenizer sizing: under the corpus' own top-K word vocabulary
    * ([[textVocab]]'s selection rule, K=100), what fraction of each
    * source's token stream is out-of-vocabulary and would fall to the
    * subword/byte fallback tier? Per source: total word occurrences,
    * vocab-covered occurrences, distinct OOV word kinds, and the OOV
    * rate as one exactly-rounded IEEE division of exact longs. Shape:
    * vocab = two-phase count aggregate + TakeOrderedAndProject top-K
    * (K rows of driver-adjacent metadata, the IVF-centroid precedent),
    * broadcast back as a membership join onto the exploded stream
    * (map-side after the broadcast), one per-source rollup. Linear in
    * the corpus; no global sorts.
    */
  private def textVocabCoverage(s: SparkSession, d: String): DataFrame = {
    val words = docs(s, d)
      .select(col("source"), explode(TF.words(col("text"))).as("word"))
    val vocab = words.groupBy(col("word"))
      .agg(count(lit(1)).as("n_occ"))
      .orderBy(col("n_occ").desc, col("word"))
      .limit(100)
      .select(col("word"), lit(1).as("in_v"))
    words.join(broadcast(vocab), Seq("word"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("in_v").isNotNull, 1L).otherwise(0L)).as("n_covered"),
        countDistinct(when(col("in_v").isNull, col("word"))).as("n_oov_kinds"))
      .select(col("source"), col("n_tokens"), col("n_covered"),
        col("n_oov_kinds"),
        round((col("n_tokens") - col("n_covered")) * lit(1.0) /
          col("n_tokens"), 6).as("oov_rate"))
      .orderBy(col("source"))
  }

  /** Temperature-flattened domain mixture (α = 1/2) — the multilingual /
    * multi-domain rebalancing step: sample source s at a rate making kept
    * counts ∝ n_s^α, flattening the size distribution toward small
    * domains without discarding anything from the smallest. Anchoring the
    * smallest domain at rate 1 fixes the normalization: rate_s =
    * √(n_min/n_s), expected kept = √(n_min·n_s) — the geometric mean,
    * exactly the α=½ temperature point. Determinism end-to-end: domain
    * sizes are exact longs; one IEEE division and one sqrt (both
    * correctly-rounded ops, bit-identical across engines) give the rate;
    * membership is the content-addressed md5 carve of [[sampleMixture]]
    * generalized to a COMPUTED threshold — keep iff the first 24 bits of
    * md5(text) < ⌊rate·2²⁴⌋, compared as fixed-width hex strings
    * (scaling by a power of two is exact; the rate-1 anchor keeps all,
    * bypassing the 7-hex-digit overflow). The fixture's sources are
    * deliberately uniform (every src has the same count — temperature
    * would be a no-op), so the row derives a 1:19-skewed domain from
    * doc_id (d_k gets the residues with ⌊√r⌋ = k, so |d_k| ∝ 2k+1) —
    * integer-exact on both engines. Shape: one tiny per-domain count
    * aggregate broadcast back onto the corpus, a map-only filter, one
    * rollup; no RNG, reproducible under corpus growth.
    */
  private def sampleTemperature(s: SparkSession, d: String): DataFrame = {
    val dom = concat(lit("d"),
      floor(sqrt((col("doc_id") % 100).cast("double"))).cast("int"))
    val base = docs(s, d).select(col("doc_id"), col("text"),
      dom.as("domain"))
    val stats = base.groupBy(col("domain")).agg(count(lit(1)).as("n_total"))
    val rates = stats
      .crossJoin(broadcast(stats.agg(min(col("n_total")).as("n_min"))))
      .select(col("domain"), col("n_total"),
        sqrt(col("n_min").cast("double") / col("n_total")).as("rate"))
    val thr = lpad(lower(hex(
      floor(col("rate") * lit(16777216.0)).cast("long"))), 6, "0")
    val kept = base.join(broadcast(rates), Seq("domain"))
      .filter(col("rate") >= 1 || substring(md5(col("text")), 1, 6) < thr)
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_kept"), min(col("doc_id")).as("min_doc"))
    rates.join(kept, Seq("domain"), "left")
      .select(col("domain"), col("n_total"), round(col("rate"), 6).as("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        col("min_doc"))
      .orderBy(col("domain"))
  }

  /** Domain-mixture resampling — the data-mixing step of training-corpus
    * assembly (The Pile / Gopher-style source weighting): each source
    * domain is down-sampled at its mixture weight. Weights here tier the
    * 20 fixture sources into 1.0 / 0.5 / 0.25 / 0.125 bands by source
    * index; membership is content-addressed through the same md5-prefix
    * carve as [[sampleHash]] (a lexicographic prefix compare IS a numeric
    * threshold on the first hash byte), so the draw is reproducible across
    * engines, partitionings, and corpus growth — re-running the mix after
    * ingesting another shard never flips a previously-kept document.
    * Map-only filter + one count aggregation: no RNG, no shuffle beyond
    * the final per-source rollup.
    */
  private def sampleMixture(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .withColumn("grp", expr("cast(substring(source, 4) as int) div 5"))
      .filter(col("grp") === 0 ||
        substring(md5(col("text")), 1, 2) <
          when(col("grp") === 1, lit("80"))
            .when(col("grp") === 2, lit("40"))
            .otherwise(lit("20")))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("n_chars")).cast("long").as("sum_chars"),
        min(col("doc_id")).as("min_doc"))
      .orderBy(col("source"))

  /** Library form of [[sampleMixture]]: keep each row of `docsDf` (needs
    * `contentCol` and `domainCol`) with the probability its domain's
    * mixture weight assigns, via the content-addressed carve — the first
    * 4 md5 hex digits read as a 16-bit integer give a uniform
    * u ∈ [0, 65536) that is a pure function of the CONTENT, so membership
    * never depends on partitioning, cluster size, or corpus growth, and
    * re-running the mix after new ingestion never flips a previously-kept
    * document. Weights quantize to 1/65536 steps (a weight ≥ 1 keeps
    * everything); unlisted domains keep everything. Map-only: one hash +
    * one comparison per row, no RNG state, no shuffle.
    */
  def mixtureSample(docsDf: DataFrame, domainCol: String,
                    weights: Map[String, Double],
                    contentCol: String = "text"): DataFrame = {
    require(weights.values.forall(w => !w.isNaN),
      "mixture weights must not be NaN") // NaN would silently drop the domain
    val u = conv(substring(md5(col(contentCol)), 1, 4), 16, 10).cast("int")
    val threshold = weights.foldLeft(lit(65536)) { case (acc, (dom, w)) =>
      when(col(domainCol) === dom,
        lit(math.min(math.max(w, 0.0), 1.0) * 65536).cast("int"))
        .otherwise(acc)
    }
    docsDf.filter(u < threshold)
  }

  /** Token-budget sequence packing — the context-window assembly step of a
    * training pipeline: documents are packed in stable (doc_id) order into
    * fixed token-budget bins, bin boundary = cumulative token count `div`
    * budget (a document that crosses the boundary opens the next bin).
    * The running sum is windowed PER SOURCE, never globally: a single
    * global cumulative window would funnel 100 TB through one task, while
    * per-source (per-shard, in production: (source, date) or the
    * [[packShards]] output) windows parallelize across the partition key
    * and each stays a single sort of that shard's (doc_id, tok) pairs —
    * the window carries two longs per row, not the text. Deterministic by
    * construction, so the DuckDB formulation agrees row-for-row.
    */
  private def packSequences(s: SparkSession, d: String): DataFrame = {
    val budget = 64
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d)
      .select(col("source"), col("doc_id"),
        size(TF.words(col("text"))).cast("long").as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("bin_id", expr(s"cast((cum - tok) div $budget as int)"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("tok")).cast("long").as("sum_tokens"))
      .orderBy(col("source"), col("bin_id"))
  }

  /** Context-window packing metered by SUBWORD tokens — the budget that
    * actually fills a model's context, where the whitespace word counts
    * [[packSequences]] meters with over- or under-state sequence length
    * (a "customer"-heavy shard packs very differently once it costs 2
    * subword tokens, not 1 word). Token counts come from the native
    * greedy longest-match kernel
    * ([[graft.functions.HashImpls.greedyTokenCount]] — BPE-shaped:
    * planted merge-table vocabulary with overlapping entries, longest
    * match wins, single-char byte fallback; one codegen'd pass per doc,
    * no allocation), then the per-source cumulative window and
    * boundary-crossing bin rule are exactly [[packSequences]]'s — never
    * a global window. The vocabulary is a deterministic literal shared
    * with the oracle, which replays the greedy match itself via a
    * recursive CTE (one recursion level per TOKEN, correlated max-length
    * probe into the vocab per step) — the tokenizer's every
    * longest-match decision is hash-gated, not just the plumbing.
    */
  private def textTokenBudget(s: SparkSession, d: String): DataFrame = {
    val budget = 256
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d)
      .select(col("source"), col("doc_id"),
        GraftFunctions.greedy_token_count(TF.normText(col("text")))
          .as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("bin_id", expr(s"cast((cum - tok) div $budget as int)"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("tok")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"), col("bin_id"))
  }

  /** Context-window packing metered by TRUE BPE pair-merge tokens — the
    * production counterpart of [[textTokenBudget]]'s greedy longest-match
    * meter: per word, start from codepoint symbols and repeatedly merge
    * the leftmost lowest-rank adjacent pair from the ranked merge table
    * ([[graft.functions.HashImpls.BpeMerges]] — Sennrich et al. 2016's
    * apply loop in its one-merge-per-step replay form, native codegen'd
    * kernel). Binning is exactly [[packSequences]]'s per-source
    * cumulative window. The oracle replays EVERY merge decision via a
    * recursive CTE (one recursion level per merge, the pair-rank scan
    * restated as a list comprehension over the symbol list) — a kernel
    * that ever merges the wrong pair or at the wrong position lands in a
    * different bin sum and fails the hash gate.
    */
  private def textTokenBudgetBpe(s: SparkSession, d: String): DataFrame = {
    val budget = 256
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(s, d)
      .select(col("source"), col("doc_id"),
        GraftFunctions.bpe_token_count(TF.normText(col("text"))).as("tok"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("bin_id", expr(s"cast((cum - tok) div $budget as int)"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).cast("int").as("n_docs"),
        sum(col("tok")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"), col("bin_id"))
  }

  /** Deterministic GLOBAL training-order shuffle + range sharding — the
    * step every pretraining run actually consumes that [[packShards]]
    * (size balance) and [[packSequences]] (token budgets) don't gate:
    * the corpus is put in a seeded pseudo-random global order and cut
    * into shards that preserve it (shard 0's last example precedes shard
    * 1's first — the property that lets a trainer stream shard files in
    * name order and see the full shuffle).
    *
    * The sort key is the seeded content-independent hash
    * `md5(seed ':' doc_id)` — fixed-width lowercase hex in both engines,
    * so the order is engine-exact and reshuffling is one seed bump (swap
    * in xxhash64 for a faster key at the cost of the oracle — same
    * trade documented on the SimHash row's native kernel). Shard
    * boundaries are FIXED key-space ranges (first hex digit ÷ 2 — the
    * no-sampling range partition you use when the key is known-uniform;
    * Spark's RangePartitioner samples, which would make shard membership
    * nondeterministic), so assignment is a pure function of the key.
    * The per-shard order manifest is what gates the ORDER itself, fully
    * distributed: rank within shard by (key, doc_id), then first/last
    * doc, Σ rank·doc_id (any transposition of distinct docs changes it),
    * and the shard's [min_key, max_key] span, whose pairwise
    * disjointness the spec checks — a global sort that leaked across a
    * boundary fails the hash gate.
    *
    * Scale: the only exchange is the hash partition on shard (in
    * production thousands of shards, one writer task chain each — the
    * per-shard window IS the sort the ordered file write needs); no
    * single-partition global sort anywhere (plan-asserted). The
    * manifest aggregate is two-phase on shard.
    */
  private def packGlobalShuffle(s: SparkSession, d: String): DataFrame = {
    val nShards = 8
    val keyed = docs(s, d).select(col("doc_id"),
        md5(concat(lit("42:"), col("doc_id").cast("string"))).as("k"),
        TF.tokenCountWs(col("text")).cast("long").as("tok_ws"))
      // first hex digit ÷ (16/nShards): fixed range boundaries at
      // 0x2, 0x4, … — shard is a pure function of the key, no sampling
      .withColumn("shard",
        ((expr("instr('0123456789abcdef', substring(k, 1, 1))") - 1) /
          (16 / nShards)).cast("int"))
    val w = Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id"))
    keyed.withColumn("rnk", row_number().over(w))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok_ws")).as("sum_tokens"),
        min_by(col("doc_id"), col("rnk")).as("first_doc"),
        max_by(col("doc_id"), col("rnk")).as("last_doc"),
        sum(col("rnk").cast("long") * col("doc_id")).as("order_check"),
        min(col("k")).as("min_key"),
        max(col("k")).as("max_key"))
      .orderBy(col("shard"))
  }

  /** `parse_url` component extraction — the URL-structure API surface
    * (protocol/host/path/query/fragment plus keyed query-parameter
    * lookup) that sits underneath the canonicalization tier
    * (`text_url_canon` rewrites; this row READS). Spark's parse_url is
    * java.net.URI-backed and case-preserving; the oracle restates each
    * component as an anchored regex over the same planted messy URL, so
    * the two engines' decompositions are compared field by field.
    * Map-only codegen projection, shuffle-free bar the presentation
    * sort.
    */
  private def exprUrlParse(s: SparkSession, d: String): DataFrame = {
    val messy = concat(
      lit("HTTPS://Site"), pmod(col("doc_id"), lit(7)),
      lit(".Example.COM:443/page/"), pmod(col("doc_id"), lit(40)),
      lit("?utm_campaign=c"), col("doc_id"), lit("#frag"), col("doc_id"))
    docs(s, d).select(col("doc_id"), messy.as("u0"))
      .select(col("doc_id"),
        expr("parse_url(u0, 'PROTOCOL')").as("proto"),
        expr("parse_url(u0, 'HOST')").as("host"),
        expr("parse_url(u0, 'PATH')").as("path"),
        expr("parse_url(u0, 'QUERY')").as("query"),
        expr("parse_url(u0, 'REF')").as("ref"),
        expr("parse_url(u0, 'QUERY', 'utm_campaign')").as("campaign"))
      .orderBy(col("doc_id"))
  }

  /** Weighted deterministic source INTERLEAVING — the write-time mixture
    * step between [[sampleMixture]] (which documents survive) and
    * [[packGlobalShuffle]] (global order): how the surviving sources are
    * WOVEN into the training stream so a prefix of any length carries
    * the target mixture (epoch composition), rather than draining one
    * source before the next. Classic deterministic stride scheduling
    * (weighted round-robin / WFQ virtual time): each source gets an
    * integer stride ∝ 1/weight, its docs are ranked in seeded-hash
    * order, and doc rank r is scheduled at virtual time r·stride; the
    * merged (time, source, rank) order interleaves sources at exactly
    * their weight ratios. The row gates the composition of the first
    * K=200 positions — counts, id sums, and the virtual-time span per
    * source — which pins both the schedule and the per-source order.
    *
    * Scale: per-source rank windows (the partition key is the source),
    * then the K-prefix is a TakeOrdered top-K — shuffle output is K
    * rows, never a materialized global sort; the trailing aggregate
    * groups ≤ K rows. Same shape at any corpus size.
    */
  private def packInterleave(s: SparkSession, d: String): DataFrame = {
    val K = 200
    // coalesce(…, 0): a source name without trailing digits must yield a
    // defined stride (1), not a null virtual time whose NULLS FIRST/LAST
    // ordering diverges between engines — a naming change fails loudly in
    // values, never silently in order
    val srcNum = coalesce(
      regexp_extract(col("source"), "(\\d+)$", 1).cast("int"), lit(0))
    val keyed = docs(s, d).select(col("doc_id"), col("source"),
        md5(concat(lit("7:"), col("doc_id").cast("string"))).as("k"))
      .withColumn("stride", pmod(srcNum, lit(4)) + 1)
    val w = Window.partitionBy(col("source")).orderBy(col("k"), col("doc_id"))
    keyed.withColumn("rnk", row_number().over(w))
      .withColumn("p", col("rnk").cast("long") * col("stride"))
      .orderBy(col("p"), col("source"), col("rnk")).limit(K)
      .groupBy(col("source"), col("stride"))
      .agg(count(lit(1)).as("n_window"),
        sum(col("doc_id")).as("sum_doc"),
        min(col("p")).as("min_p"), max(col("p")).as("max_p"))
      .orderBy(col("source"))
  }

  /** Epoch-over-epoch corpus DRIFT detection — the data-quality gate a
    * production pipeline runs between crawls ("did today's distribution
    * move?"), complementing the point-in-time gates (`quality_
    * expectations` checks rows, this checks the DISTRIBUTION): 256-bucket
    * hashed-unigram count profiles for two epochs (even/odd doc_id — the
    * yesterday/today stand-in), compared by the integer cross-multiplied
    * imbalance `drift = cA·nB − cB·nA` per bucket (the exact sign/scale
    * of the rate difference cA/nA − cB/nB without a float anywhere —
    * same arithmetic family as the classifier's weight contrast). Top-20
    * buckets by |drift| are the report a pipeline alerts on.
    *
    * Scale: one corpus pass, one two-phase aggregate on the 256-bucket
    * key (map-side combine reduces each partition to ≤256 rows before
    * the exchange), a 1-row totals broadcast, and a top-k TakeOrdered —
    * linear at any corpus size, shuffle output bounded by buckets.
    */
  private def qualityDrift(s: SparkSession, d: String): DataFrame = {
    val bucket = conv(substring(md5(col("w")), 1, 2), 16, 10).cast("int")
    val ex = docs(s, d)
      .select((pmod(col("doc_id"), lit(2)) === 0).as("is_a"),
        explode(TF.words(col("text"))).as("w"))
      .select(col("is_a"), bucket.as("bucket"))
    val counts = ex.groupBy(col("bucket"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("c_a"),
           sum(when(!col("is_a"), 1L).otherwise(0L)).as("c_b"))
    val totals = counts.agg(sum(col("c_a")).as("n_a"), sum(col("c_b")).as("n_b"))
    counts.crossJoin(broadcast(totals))
      .select(col("bucket"), col("c_a"), col("c_b"),
        (col("c_a") * col("n_b") - col("c_b") * col("n_a")).as("drift"))
      .orderBy(abs(col("drift")).desc, col("bucket")).limit(20)
  }

  /** Gopher-style quality-rule filter (Rae et al. 2112.11446 Table A1,
    * adapted to the fixture corpus): word-count bounds, mean-word-length
    * bounds, and a minimum stopword count — the cheap heuristic gate that
    * drops degenerate documents before any pairwise dedup spends shuffle
    * on them. Per-row projection over the normalized word array:
    * shuffle-free, linear, whole-stage codegen. The mean word length uses
    * a single exactly-rounded IEEE division (chars-sans-spaces / words) so
    * the double is bit-identical in both engines (same rationale as
    * [[textTfidf]]'s score).
    */
  private def textGopherQuality(s: SparkSession, d: String): DataFrame = {
    val ws = TF.words(col("text"))
    val n = size(ws)
    val awl = length(regexp_replace(TF.normText(col("text")), " ", ""))
      .cast("double") / n
    val nStop = size(filter(ws,
      x => x.isInCollection(Seq("the", "a", "is", "and", "of"))))
    val okLen = n.between(10, 100000)
    val okAwl = awl.between(2.0, 12.0)
    val okStop = nStop >= 2
    docs(s, d).select(
      col("doc_id"),
      n.cast("int").as("n_words"),
      awl.as("awl"),
      nStop.cast("int").as("n_stop"),
      okLen.as("ok_len"),
      okAwl.as("ok_awl"),
      okStop.as("ok_stop"),
      (okLen && okAwl && okStop).as("keep"))
      .orderBy(col("doc_id"))
  }

  /** URL canonicalization — the web-ingest normalization step that makes
    * URL-keyed dedup work at all (the same page arrives as
    * `HTTP://Site.com:80/p#frag` and `http://site.com/p?utm_source=x`):
    * lowercase scheme+host ONLY (paths are case-significant), strip the
    * scheme-default port, the fragment, and utm_* tracking params, then
    * tidy dangling separators. The fixture corpus has no URLs, so a
    * deterministic doc-keyed URL is planted (same expression in the
    * oracle) — non-vacuous on every row. Pure regex projection:
    * shuffle-free, codegen, lookaround-free patterns (the backref
    * REPLACEMENT syntax differs — `$1` Java, `\1` RE2 — so the oracle SQL
    * spells the same chain in DuckDB's dialect). At scale this runs ahead
    * of [[graft.operators.Dedup]]'s exact dedup keyed on the canon URL.
    */
  /** Target-conditioned data selection (the DSIR shape — Xie et al.
    * 2023: select raw-pool documents whose hashed-n-gram feature profile
    * matches a small target domain): a TARGET slice (the same
    * content-addressed md5-'0' carve the decontamination rows use as
    * their fixture eval set) defines a 256-bucket hashed-bigram count
    * profile; every raw-pool document is scored by the integer inner
    * product between its own bucket counts and the target profile, and
    * the selection keeps strictly-above-mean scorers. DSIR proper ranks
    * by a log-likelihood ratio — a float whose bucket-order summation
    * can never hash-match a second engine — so this row keeps the exact
    * pipeline SHAPE (hashed features → broadcast target profile →
    * map-side probe → per-doc score → global threshold) with an
    * integer-exact scoring rule; swap the probe expression for the
    * log-ratio to get DSIR proper at the cost of the oracle.
    *
    * Scale: the profile is ≤256 rows (broadcast; never a corpus
    * shuffle), the probe is map-side, the per-doc score is one
    * partial-combined sum on doc_id, and the mean threshold is a 1-row
    * aggregate broadcast back — linear end to end. Bucket ids come from
    * the first two md5 hex chars (engine-agnostic like every carve in
    * this file). `score·n > total` keeps the comparison in BIGINT
    * (exact); beyond ~10¹⁸ score-mass move it to DECIMAL.
    *
    * Reusable STAGE over any (doc_id, text) pool (`sample_importance`
    * instantiates it on the raw corpus; `pipeline_curation` on the
    * C4-cleaned URL-deduped survivors). Returns the kept above-mean
    * scorers (doc_id, score, n_bigrams), unordered.
    */
  def importanceSelect(pool: DataFrame): DataFrame = {
    val w = TF.words(col("text"))
    val n = size(w)
    val bigrams = when(n >= 2,
      zip_with(slice(w, lit(1), n - 1), slice(w, lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val base = pool
      .select(col("doc_id"), bigrams.as("bg"),
        (substring(md5(col("text")), 1, 1) === "0").as("is_target"))
    val bucket = conv(substring(md5(col("b")), 1, 2), 16, 10).cast("int")
    val exploded = base
      .select(col("doc_id"), col("is_target"), explode(col("bg")).as("b"))
      .select(col("doc_id"), col("is_target"), bucket.as("bucket"))
    val profile = exploded.filter(col("is_target"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("tcnt"))
    val scored = exploded.filter(!col("is_target"))
      .join(broadcast(profile), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("tcnt"), lit(0L))).as("score"),
           count(lit(1)).as("n_bigrams"))
    val totals = scored.agg(sum(col("score")).as("total"),
      count(lit(1)).as("n_docs"))
    scored.crossJoin(broadcast(totals))
      .filter(col("score") * col("n_docs") > col("total"))
      .select(col("doc_id"), col("score"), col("n_bigrams"))
  }

  private def sampleImportance(s: SparkSession, d: String): DataFrame =
    importanceSelect(docs(s, d).select(col("doc_id"), col("text")))
      .orderBy(col("doc_id"))

  /** Model-scored quality classification (the fastText/CCNet shape —
    * Joulin et al. 2017; Wenzek et al. 2020 §4.3: a linear classifier
    * over hashed n-gram features scores every crawled page, and a
    * threshold on the score gates the corpus). The heuristic tiers
    * (`text_gopher_quality`, `text_c4_filters`) cover RULES; this row
    * covers the LEARNED tier those pipelines layer on top: 256-bucket
    * hashed-bigram features (the same md5-2-hex-chars bucketing as
    * [[importanceSelect]] — engine-agnostic by construction), a weight
    * vector TRAINED from two labeled corpus slices, and a sign
    * threshold on the linear score.
    *
    * Training is the multinomial-NB-flavored closed form a one-pass
    * distributed trainer produces: positive seed = the md5-'0' content
    * carve (the "Wikipedia-like" slice), negative seed = the md5-'f'
    * carve (the "junk" slice), and each bucket's weight is the
    * cross-multiplied count contrast `pos_cnt·neg_total −
    * neg_cnt·pos_total` — the integer-exact sign of the per-bucket
    * log-likelihood ratio (`pos_cnt/pos_total > neg_cnt/neg_total` ⇔
    * weight > 0), so scoring stays in BIGINT and hash-matches a second
    * engine where fastText's float softmax never could. The sigmoid is
    * monotone, so "P(keep) > ½" IS "score > 0" — the threshold needs no
    * float at all. Swap the contrast for real trained floats to get
    * fastText proper at the cost of the oracle.
    *
    * Scale: the model is ≤256 rows (two count aggregates + one 1-row
    * total, broadcast to the probe — NEVER a corpus-side shuffle on
    * bucket; plan-asserted in the spec), scoring is a map-side
    * broadcast probe + one partial-combined sum per doc_id, and the
    * gate is a codegen sign test — linear end to end, the exact plan
    * CCNet runs over Common Crawl. Weight magnitudes are
    * O(slice_bigrams²) ≈ 10¹⁰ at 100 TB-per-slice scale; the per-doc
    * BIGINT score holds to ~10⁸ bigrams/doc beyond which the sum moves
    * to DECIMAL. Output: every FEATURIZABLE pool doc — both verdict
    * classes, since the downstream mixture sampler wants the score, not
    * just survivors — with its score, feature count, and the gate
    * decision. Pool docs with fewer than 2 normalized words carry no
    * bigram features and get NO row (no verdict), exactly as the oracle
    * and fastText itself behave on featureless input; a pipeline that
    * must route them treats absence as its own bucket
    * (`pipeline_pretraining` drops them with the negative class).
    */
  def classifierScores(pool: DataFrame): DataFrame = {
    val w = TF.words(col("text"))
    val n = size(w)
    val bigrams = when(n >= 2,
      zip_with(slice(w, lit(1), n - 1), slice(w, lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val firstHex = substring(md5(col("text")), 1, 1)
    val base = pool
      .select(col("doc_id"), bigrams.as("bg"),
        when(firstHex === "0", "pos").when(firstHex === "f", "neg")
          .otherwise("pool").as("slice"))
    val bucket = conv(substring(md5(col("b")), 1, 2), 16, 10).cast("int")
    val ex = base
      .select(col("doc_id"), col("slice"), explode(col("bg")).as("b"))
      .select(col("doc_id"), col("slice"), bucket.as("bucket"))
    val counts = ex.filter(col("slice") =!= "pool")
      .groupBy(col("bucket"))
      .agg(sum(when(col("slice") === "pos", 1L).otherwise(0L)).as("pc"),
           sum(when(col("slice") === "neg", 1L).otherwise(0L)).as("nc"))
    val totals = counts.agg(sum(col("pc")).as("pt"), sum(col("nc")).as("nt"))
    val weights = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (col("pc") * col("nt") - col("nc") * col("pt")).as("wgt"))
    ex.filter(col("slice") === "pool")
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("wgt"), lit(0L))).as("score"),
           count(lit(1)).as("n_bigrams"))
      .select(col("doc_id"), col("score"), col("n_bigrams"),
        when(col("score") > 0, 1).otherwise(0).as("keep"))
      .orderBy(col("doc_id"))
  }

  private def textQualityClassifier(s: SparkSession, d: String): DataFrame =
    classifierScores(docs(s, d).select(col("doc_id"), col("text")))

  /** BPE vocabulary TRAINING (Sennrich et al. 2016 learn loop — the
    * induction counterpart of the `text_token_budget_bpe` APPLY kernel,
    * which consumes a merge table this operator produces): from the
    * corpus word-frequency dict, repeatedly pick the most frequent
    * adjacent symbol pair (count desc, then lexicographic — overlapping
    * occurrences counted, the reference implementation's get_stats) and
    * merge every greedy left-to-right occurrence; k=8 ranked merges out.
    * No end-of-word marker (documented variant).
    *
    * Scale shape: ONE corpus-wide shuffle total (the word-count
    * aggregate — the dict is vocab-sized, not corpus-sized, from there
    * on); each of the k rounds is a two-phase pair-count aggregate plus
    * a MAP-ONLY fold re-segmentation over the dict (the fold carries a
    * (res, last) struct so no per-row indexing of possibly-empty arrays
    * under ANSI). Driver state = one (pair, count) row per round — the
    * kmeans/IVF bounded-metadata class — and the k merge rows ARE the
    * output. Only the initial dict caches, unpersisted before return
    * (convergence-loop contract, [[graft.Caches]] scaladoc).
    */
  private def textBpeTrain(s: SparkSession, d: String): DataFrame = {
    val words = docs(s, d)
      .select(explode(TF.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    // char split via substr over 1..len — same construction as the
    // oracle's w[i+1:i+1] slice. Only the INITIAL dict caches: round k
    // replays k map-only folds over the vocab-sized cached dict (k² fold
    // work total, trivial against re-reading the corpus), which beats
    // 8 cache-materialize jobs at any scale where the dict fits the
    // fold's map-side cost — and the corpus is scanned exactly once.
    val base = words.select(col("w"), col("freq"),
      transform(sequence(lit(1), length(col("w"))),
        i => col("w").substr(i, lit(1))).as("syms"))
      .cache()
    var syms = base
    val merges = scala.collection.mutable.ArrayBuffer[(Int, String, String, String, Long)]()
    for (k <- 0 until 8) {
      val pairRows = syms.filter(size(col("syms")) >= 2)
        .select(col("freq"),
          explode(transform(sequence(lit(0), size(col("syms")) - 2),
            j => struct(element_at(col("syms"), j + 1).as("l"),
                        element_at(col("syms"), j + 2).as("r")))).as("pr"))
        .groupBy(col("pr.l").as("l"), col("pr.r").as("r"))
        .agg(sum(col("freq")).as("cnt"))
      val bestOpt = pairRows.orderBy(col("cnt").desc, col("l"), col("r"))
        .limit(1).collect().headOption
      if (bestOpt.isEmpty) {
        // vocab fully merged before the requested merge count — every
        // word is a single symbol, so no adjacent pair remains to learn
        throw new IllegalStateException(
          s"BPE training exhausted at merge round $k: no adjacent " +
            "symbol pairs remain (corpus vocabulary fully merged)")
      }
      val best = bestOpt.get
      val (l, r, cnt) = (best.getString(0), best.getString(1), best.getLong(2))
      merges += ((k, l, r, l + r, cnt))
      val (ll, rr, mm) = (lit(l), lit(r), lit(l + r))
      def flush(acc: Column): Column =
        when(acc.getField("last").isNull, acc.getField("res"))
          .otherwise(concat(acc.getField("res"), array(acc.getField("last"))))
      syms = syms.withColumn("syms",
        aggregate(col("syms"),
          struct(expr("cast(array() as array<string>)").as("res"),
                 lit(null).cast("string").as("last")),
          (acc, sym) =>
            when(acc.getField("last") === ll && sym === rr,
              struct(acc.getField("res").as("res"), mm.as("last")))
            .otherwise(struct(flush(acc).as("res"), sym.as("last"))),
          acc => flush(acc)))
    }
    base.unpersist()
    s.createDataFrame(merges.toSeq)
      .toDF("rank", "lhs", "rhs", "merged", "pair_count")
      .orderBy(col("rank"))
  }

  // -- unigram-LM (SentencePiece-style) tokenizer training ---------------

  private val UniMaxTok = 4
  /** Multi-char vocab keeps per EM prune round (the SentencePiece shrink
    * schedule, sized to the fixture's 31-word dict; single chars are the
    * coverage floor and never prune).
    */
  private val UniKeeps = Seq(24, 16, 12)

  /** One Viterbi segmentation of `w` under the vocab map `vm`
    * (token → count), as a pure Column fold — the E-step kernel.
    *
    * The objective is the INTEGER-EXACT total order (fewest tokens, then
    * highest count sum, then lexicographically smallest path): the
    * textbook max-Σ-log-p objective decides ties through float log
    * rounding, which a second engine cannot replay bit-for-bit — the
    * same integer-contrast convention as [[classifierScores]]. Encoded
    * as struct (n, −Σcnt, path) so `array_sort`'s natural struct order
    * IS the objective; paths carry a leading separator during the DP so
    * the lexicographic tie-break compares identical spellings in both
    * engines, trimmed only at the finish.
    *
    * DP state is the best-prefix array (one struct per prefix length);
    * single chars are always in the vocab, so every prefix is reachable
    * and the candidate list is never empty.
    */
  private def viterbiSegment(w: Column, vm: Column): Column = {
    val init = array(struct(lit(0).as("n"), lit(0L).as("negc"),
      lit("").as("p")))
    aggregate(sequence(lit(1), length(w)), init,
      (acc, i) => {
        val cands = filter(
          transform(sequence(greatest(i - lit(UniMaxTok), lit(0)), i - 1),
            j => {
              val tok = w.substr(j + 1, i - j)
              val prev = element_at(acc, j + 1)
              struct((prev.getField("n") + 1).as("n"),
                (prev.getField("negc") - try_element_at(vm, tok)).as("negc"),
                concat(prev.getField("p"), lit(" "), tok).as("p"))
            }),
          c => c.getField("negc").isNotNull)
        concat(acc, array(element_at(array_sort(cands), 1)))
      },
      acc => ltrim(element_at(acc, size(acc)).getField("p")))
  }

  /** Unigram-LM tokenizer TRAINING (Kudo 2018, the SentencePiece vocab
    * learner — completes the tokenizer family next to greedy-apply,
    * BPE-apply and [[textBpeTrain]]): seed the vocab with EVERY
    * substring of the word-frequency dict up to [[UniMaxTok]] chars
    * (occurrence-mass scored, overlaps counted), then run EM-style
    * rounds — E: Viterbi-segment the dict under the current scores
    * ([[viterbiSegment]]); M: re-estimate every token's score as its
    * frequency-weighted usage in those segmentations; PRUNE: keep the
    * single chars (coverage floor, score 0 when unused) plus the top-K
    * multi-char tokens by (count desc, token), K shrinking per round
    * ([[UniKeeps]]).
    *
    * Scale shape: ONE corpus-wide shuffle total (the word-count
    * aggregate); from there every structure is VOCAB-sized — the seed
    * substring aggregate, the one-row token→count map crossJoin-broadcast
    * to the dict, the per-round count aggregate (cached per round to cut
    * cross-round lineage, released before return), and the final vocab,
    * which collects k-sized to the driver like the kmeans centroids /
    * BPE merge rows. The E-step is a map-only fold over the dict.
    */
  /** @param releaseWords hand the word-frequency cache back released
    *        (the train row's shape). [[textUnigramApply]] passes false:
    *        its LAZY result re-reads the same frame for the per-word
    *        segmentation join, so the cache must outlive this call and
    *        falls under the session owner's [[graft.Caches.releaseAll]]
    *        contract instead — without it the apply path re-ran the
    *        corpus scan + word explode + groupBy a second time (r18).
    */
  private[graft] def unigramTrainFromWords(words: DataFrame,
      releaseWords: Boolean = true): Seq[(String, Long)] = {
    val w = words.cache()
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    try {
      val seeds = w.select(col("w"), col("freq"),
          explode(flatten(transform(
            sequence(lit(1), least(lit(UniMaxTok), length(col("w")))),
            l => transform(sequence(lit(1), length(col("w")) - l + 1),
              i => col("w").substr(i, l))))).as("tok"))
        .groupBy(col("tok")).agg(sum(col("freq")).as("cnt"))
      val charSet = seeds.filter(length(col("tok")) === 1).select(col("tok"))
      var vocab = seeds
      for (k <- UniKeeps) {
        val vm = vocab.agg(map_from_entries(
          collect_list(struct(col("tok"), col("cnt")))).as("vm"))
        // vocab-sized frame: collapse to one partition so the per-round
        // jobs schedule 1 task, not shuffle-partition-many empty ones
        val counts = w.crossJoin(broadcast(vm))
          .select(col("freq"),
            explode(split(viterbiSegment(col("w"), col("vm")), " "))
              .as("tok"))
          .groupBy(col("tok")).agg(sum(col("freq")).as("cnt"))
          .coalesce(1)
          .cache()
        cached += counts
        counts.count(): Unit // materialize: cuts the cross-round lineage
        val chars = charSet.join(counts, Seq("tok"), "left")
          .select(col("tok"), coalesce(col("cnt"), lit(0L)).as("cnt"))
        val multi = counts.filter(length(col("tok")) > 1)
          .orderBy(col("cnt").desc, col("tok")).limit(k)
        vocab = chars.unionAll(multi)
      }
      vocab.collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy { case (t, c) => (-c, t) }.toSeq
    } finally {
      cached.foreach(_.unpersist(blocking = false))
      if (releaseWords) w.unpersist(blocking = false): Unit
    }
  }

  private def textUnigramTrain(s: SparkSession, d: String): DataFrame = {
    val words = docs(s, d)
      .select(explode(TF.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    val ranked = unigramTrainFromWords(words).zipWithIndex.map {
      case ((tok, cnt), i) => (i + 1, tok, tok.length, cnt)
    }
    s.createDataFrame(ranked)
      .toDF("rank", "token", "token_len", "score")
      .orderBy(col("rank"))
  }

  /** The unigram-train oracle: rounds × DP positions unrolled as
    * generated CTE layers (the [[bpeTrainOracle]] technique — each round
    * needs the PREVIOUS round's global counts, and the DP itself needs
    * per-prefix argmins, neither of which a recursive CTE can express).
    * Layer b{r}_{i} holds each word's best length-i prefix segmentation
    * under vocab v{r} as (n, negc, path), argmin'd by ROW_NUMBER; the
    * leading-separator path convention matches [[viterbiSegment]]
    * byte-for-byte so the lexicographic tie-break agrees.
    */
  /** Unigram-LM tokenizer APPLY — the consumption counterpart of
    * [[textUnigramTrain]] (the same train→apply symmetry as
    * `text_bpe_train` → `text_token_budget_bpe`): per-doc word and
    * subword-token counts under the trained unigram vocab.
    *
    * Scale shape: the corpus is NEVER segmented per occurrence — the
    * VOCABULARY is segmented once (one [[viterbiSegment]] fold per
    * distinct word, under the one-row broadcast final-vocab map) and the
    * corpus word stream map-side joins the broadcast word→n_tok table,
    * then two-phase-aggregates per doc. Training re-runs here (the vocab
    * is a model artifact; at 100 TB you persist it and skip straight to
    * the apply join).
    */
  private def textUnigramApply(s: SparkSession, d: String): DataFrame = {
    val words = docs(s, d)
      .select(explode(TF.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .cache() // reused by perWord below; released by the session owner
    val vocab = unigramTrainFromWords(words, releaseWords = false)
    import s.implicits._
    val vm = vocab.toDF("tok", "cnt")
      .agg(map_from_entries(
        collect_list(struct(col("tok"), col("cnt")))).as("vm"))
    val perWord = words.select(col("w")).crossJoin(broadcast(vm))
      .select(col("w"),
        size(split(viterbiSegment(col("w"), col("vm")), " ")).as("n_tok"))
    docs(s, d).select(col("doc_id"), explode(TF.words(col("text"))).as("w"))
      .filter(length(col("w")) > 0)
      .join(broadcast(perWord), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_tok")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))
  }

  private def unigramTrainOracle(maxWordLen: Int): String =
    unigramOracle(maxWordLen, applyTail = false)

  /** [[unigramTrainOracle]] plus one more DP round under the FINAL vocab
    * (`applyTail`): segment the dict once more, derive per-word token
    * counts, and stream the corpus words through them — the oracle of
    * [[textUnigramApply]].
    */
  private def unigramApplyOracle(maxWordLen: Int): String =
    unigramOracle(maxWordLen, applyTail = true)

  private def unigramOracle(maxWordLen: Int, applyTail: Boolean): String = {
    val rounds = UniKeeps.length
    val nDp = if (applyTail) rounds + 1 else rounds
    // every b-layer is AS MATERIALIZED: layer i references layers
    // i−1..i−4, so default CTE inlining would expand the chain
    // Fibonacci-style (~3.6^i copies of the base scan — the sf0.01 run
    // exhausted the fd limit before ever executing)
    val dpRounds = (0 until nDp).map { r =>
      val layers = (1 to maxWordLen).map { i =>
        val cands = (math.max(0, i - UniMaxTok) until i).map { j =>
          s"""
          SELECT b.w, b.freq, b.n + 1 AS n, b.negc - v.cnt AS negc,
                 b.p || ' ' || substr(b.w, $j + 1, ${i - j}) AS p
          FROM b${r}_$j b
          JOIN v$r v ON v.tok = substr(b.w, $j + 1, ${i - j})
          WHERE len(b.w) >= $i"""
        }.mkString(" UNION ALL ")
        s""",
      b${r}_$i AS MATERIALIZED (
        SELECT w, freq, n, negc, p FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY w
            ORDER BY n, negc, p) AS rn
          FROM ($cands)) WHERE rn = 1)"""
      }.mkString
      val segUnion = (1 to maxWordLen)
        .map(i => s"SELECT w, freq, p FROM b${r}_$i WHERE len(w) = $i")
        .mkString(" UNION ALL ")
      // the apply block (r == rounds) segments under the FINAL vocab and
      // needs no further recount/prune
      val roundTail =
        if (r == rounds) ""
        else s""",
      cnt$r AS MATERIALIZED (
        SELECT tok, sum(freq)::BIGINT AS cnt FROM (
          SELECT unnest(string_split(p, ' ')) AS tok, freq FROM seg$r)
        GROUP BY tok),
      v${r + 1} AS MATERIALIZED (
        SELECT c.tok, coalesce(ct.cnt, 0)::BIGINT AS cnt
        FROM chars c LEFT JOIN cnt$r ct USING (tok)
        UNION ALL
        SELECT tok, cnt FROM (
          SELECT tok, cnt FROM cnt$r WHERE len(tok) > 1
          ORDER BY cnt DESC, tok LIMIT ${UniKeeps(r)}))"""
      s""",
      b${r}_0 AS MATERIALIZED (
        SELECT w, freq, 0 AS n, 0::BIGINT AS negc, '' AS p FROM dict)$layers,
      seg$r AS MATERIALIZED (
        SELECT w, freq, trim(p) AS p FROM ($segUnion))$roundTail"""
    }.mkString
    val finalSelect =
      if (applyTail) s""",
      wtok AS MATERIALIZED (
        SELECT w, CAST(len(string_split(p, ' ')) AS INT) AS n_tok
        FROM seg$rounds),
      docw AS MATERIALIZED (
        SELECT doc_id, unnest(string_split($NormSql, ' ')) AS w
        FROM documents)
      SELECT d.doc_id, COUNT(*) AS n_words,
             CAST(SUM(t.n_tok) AS BIGINT) AS n_tokens
      FROM docw d JOIN wtok t USING (w)
      WHERE len(d.w) > 0
      GROUP BY d.doc_id ORDER BY d.doc_id"""
      else s"""
      SELECT CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS INT)
               AS rank,
             tok AS token, CAST(len(tok) AS INT) AS token_len,
             cnt AS score
      FROM v$rounds ORDER BY rank"""
    s"""
      WITH dict AS MATERIALIZED (
        SELECT w, count(*)::BIGINT AS freq FROM (
          SELECT unnest(string_split($NormSql, ' ')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY w),
      v0 AS MATERIALIZED (
        SELECT tok, sum(freq)::BIGINT AS cnt FROM (
          SELECT substr(w, i + 1, l) AS tok, freq
          FROM dict, unnest(range(len(w))) AS t(i),
               unnest([${(1 to UniMaxTok).mkString(", ")}]) AS u(l)
          WHERE i + l <= len(w))
        GROUP BY tok),
      chars AS MATERIALIZED (SELECT tok FROM v0 WHERE len(tok) = 1)$dpRounds
      $finalSelect"""
  }

  /** The PRETRAINING-corpus assembly pipeline — the round's new stages
    * composed in production order, the third composition row beside
    * `pipeline_corpus` (dedup tier) and `pipeline_curation` (crawl
    * tier): raw corpus → LEARNED quality gate ([[classifierScores]] —
    * held-out pos/neg seed slices train the model, only positively
    * scored pool docs survive) → n-gram DECONTAMINATION against the
    * md5-'0' eval carve ([[decontaminate]] — any 5-gram overlap drops
    * the doc) → EXACT dedup (keep-first per normalized text). The
    * funnel accounts each stage in both documents and SUBWORD tokens
    * ([[graft.functions.HashImpls.greedyTokenCount]]) — the budget a
    * trainer actually consumes — so the row gates the composed
    * machinery AND the token-mass bookkeeping every data card reports.
    * Shuffle shape: classifier = broadcast model probe; decontamination
    * = broadcast bench-shingle join; dedup = one two-phase min
    * aggregate on a 16-byte key — three linear passes, no stage holds
    * more than k×buckets driver-side state.
    */
  private def pipelinePretraining(s: SparkSession, d: String): DataFrame = {
    val raw = docs(s, d).select(col("doc_id"), col("text"))
    // Each pipeline stage runs ONCE. The naive funnel re-evaluated the
    // whole lazy upstream per stage (classifier 3×, decontamination 2×)
    // and re-tokenized the corpus 4× — at 100 TB that multiplier is the
    // pipeline's entire cost. Instead: cache the doc_id-only survivor
    // sets (16 bytes/doc, the ONLY thing a stage needs to expose) plus a
    // single (doc_id, tok) tokenizer pass, tag every doc with the last
    // stage it survived, and compute all four funnel rows in one
    // aggregate over that tagged pass. Caches are doc_id-width and
    // released by the session owner via Caches.releaseAll.
    val scored = classifierScores(raw)
    val keptIds = scored.filter(col("keep") === 1)
      .select(col("doc_id")).cache()
    val kept = raw.join(keptIds, Seq("doc_id"))
    val bench = raw.filter(substring(md5(col("text")), 1, 1) === "0")
      .select(col("text"))
    val contaminated = decontaminate(kept, bench).select(col("doc_id"))
    val cleanIds = keptIds.join(contaminated, Seq("doc_id"), "left_anti")
      .cache()
    val clean = raw.join(cleanIds, Seq("doc_id"))
    val uniqIds = Dedup.textGroups(clean)._1
      .withColumnRenamed("rep", "doc_id")
      .cache()
    val toks = raw.select(col("doc_id"),
      GraftFunctions.greedy_token_count(TF.normText(col("text"))).as("tok"))
    val staged = toks
      .join(keptIds.withColumn("s1", lit(1)), Seq("doc_id"), "left")
      .join(cleanIds.withColumn("s2", lit(1)), Seq("doc_id"), "left")
      .join(uniqIds.withColumn("s3", lit(1)), Seq("doc_id"), "left")
    staged.agg(
        count(lit(1)).as("n0"), sum(col("tok")).as("t0"),
        count(col("s1")).as("n1"),
        sum(when(col("s1") === 1, col("tok"))).as("t1"),
        count(col("s2")).as("n2"),
        sum(when(col("s2") === 1, col("tok"))).as("t2"),
        count(col("s3")).as("n3"),
        sum(when(col("s3") === 1, col("tok"))).as("t3"))
      .select(expr(
        """stack(4,
           0, 'raw',            n0, t0,
           1, 'quality_kept',   n1, t1,
           2, 'decontaminated', n2, t2,
           3, 'deduped',        n3, t3)
           AS (stage, stage_name, n_docs, n_tokens)"""))
      .orderBy(col("stage"))
  }

  /** The WEB-CRAWL curation pipeline — this round's stages composed in
    * production order, as `pipeline_corpus` composes the dedup tier's:
    * raw pages → C4 heuristic cleaning ([[stageC4]]) → URL-keyed
    * keep-best dedup over the CLEANED docs, weighted by their cleaned
    * word counts ([[stageUrlKeepBest]]) → DSIR-shape importance selection
    * scoring the CLEANED text ([[importanceSelect]]). Each stage consumes
    * the previous stage's output — the URL keeper ranks by post-C4
    * length, the importance profile hashes the REBUILT text — so the row
    * gates stage COMPOSITION, not each kernel alone; the oracle replays
    * the whole chain. Shuffle shape is the sum of its parts: map-only
    * clean, one two-phase max_by on the canon key, one broadcast-profile
    * probe + doc-key sum — three linear passes at any corpus size.
    */
  private def pipelineCuration(s: SparkSession, d: String): DataFrame = {
    val raw = docs(s, d).select(col("doc_id"), col("text"))
    // stage 0→1: the crawl front — raw HTML built from the fixture docs,
    // boilerplate-extracted ([[stageHtmlExtract]]); pages with no
    // surviving content line leave the funnel here
    // Each kernel runs ONCE (the pipelinePretraining discipline — the
    // five funnel aggregates would otherwise re-run the HTML extraction
    // 4x, C4 3x and the keep-best aggregate 2x through stage lineage):
    // the three stage frames cache, released by the session owner via
    // Caches.releaseAll. A 100 TB run materializes these to parquet
    // between stages instead — the stages are the reusable APIs.
    val extracted = stageHtmlExtract(
        raw.select(col("doc_id"), htmlPageExpr.as("html")))
      .filter(col("n_lines_kept") >= 1)
      .select(col("doc_id"), col("n_words_kept"), col("text_clean"))
      .cache()
    // stage 2: C4 consumes the EXTRACTED text as its page (line-per-line)
    val cleaned = stageC4(
      extracted.select(col("doc_id"), col("text_clean").as("page")))
      .cache()
    val kept = stageUrlKeepBest(cleaned, col("n_words_kept")).cache()
    val selected = importanceSelect(
      kept.select(col("doc_id"), col("text_clean").as("text")))
      .join(kept.select(col("doc_id"), col("n_words_kept")), Seq("doc_id"))
    def funnel(stage: Int, name: String, df: DataFrame, words: Column) =
      df.agg(count(lit(1)).as("n_docs"),
        sum(words.cast("long")).as("n_words"))
        .select(lit(stage).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("n_words"))
    funnel(0, "raw", raw, size(TF.words(col("text"))))
      .unionAll(funnel(1, "html", extracted, col("n_words_kept")))
      .unionAll(funnel(2, "c4", cleaned, col("n_words_kept")))
      .unionAll(funnel(3, "url_dedup", kept, col("n_words_kept")))
      .unionAll(funnel(4, "selected", selected, col("n_words_kept")))
      .orderBy(col("stage"))
  }

  /** The EVAL-HARNESS assembly pipeline — the sixth composition row,
    * and the one every benchmark team runs BEFORE the training funnels
    * (`pipeline_pretraining` scrubs train against a fixed eval set; this
    * row BUILDS that eval set): content-addressed eval carve (md5-'1',
    * disjoint from the pretraining bench's '0' carve by construction) →
    * Gopher quality gate (degenerate docs make bad eval items) →
    * REVERSE-direction leak scrub — drop any candidate sharing ANY
    * 5-gram shingle with the TRAINING complement (GPT-3 §B's "dirty"
    * rule, the same any-overlap verdict as `text_decontaminate`, run
    * the other way: a train-set near-duplicate of an eval item
    * inflates every score it touches) → per-language stratified cap
    * (en 25% / other 75%, the [[sampleStratified]] thresholds — but on
    * md5 chars 3-4, a hash facet INDEPENDENT of the carve's chars 1-2;
    * reusing the carve facet would make the cap tautologically pass,
    * the classic correlated-hash bug in content-addressed pipelines) →
    * 256-subword-token sequence packing per language shard.
    *
    * The scrub is the scale-interesting stage, and its shape INVERTS
    * [[decontaminate]]'s: there the bench set broadcasts and the corpus
    * streams; here the EVAL side is small by construction, so its
    * shingle set broadcasts, the 15/16 training complement streams ONCE
    * through the membership probe emitting only the report-sized hit
    * set, and the per-candidate verdict is a second broadcast join of
    * that hit set back onto the candidate shingle stream — nothing
    * corpus-sized ever shuffles, exactly how a 100 TB corpus checks a
    * GB-sized eval set. Funnel accounting follows
    * [[pipelinePretraining]]'s discipline: each kernel runs once, stage
    * survivor sets cache doc_id-wide, one subword-token pass over the
    * candidates, all five rows from one tagged aggregate.
    */
  private def pipelineEvalHarness(s: SparkSession, d: String): DataFrame = {
    val n = 5
    val raw = docs(s, d).select(col("doc_id"), col("lang"), col("text"))
    val isEval = substring(md5(col("text")), 1, 1) === "1"
    // stage 0: the candidate pool IS the carve — an eval harness never
    // tokenizes the full corpus, so the funnel (and the oracle's
    // recursive-CTE tokenizer) stays 1/16-sized
    val cand = raw.filter(isEval).cache()
    // stage 1: Gopher gate (same rule set as text_gopher_quality)
    val ws = TF.words(col("text"))
    val nW = size(ws)
    val awl = length(regexp_replace(TF.normText(col("text")), " ", ""))
      .cast("double") / nW
    val nStop = size(filter(ws,
      x => x.isInCollection(Seq("the", "a", "is", "and", "of"))))
    val gateIds = cand
      .filter(nW.between(10, 100000) && awl.between(2.0, 12.0) && nStop >= 2)
      .select(col("doc_id")).cache()
    val gated = cand.join(gateIds, Seq("doc_id"))
    // stage 2: reverse leak scrub — eval shingle set broadcasts, the
    // training complement streams once, hit set is ≤ |eval shingles|
    val candSh = gated.select(col("doc_id"),
        explode(GraftFunctions.word_shingles(TF.words(col("text")), n))
          .as("shingle"))
    val evalSet = candSh.select(col("shingle")).distinct()
    val hitSet = raw.filter(!isEval)
      .select(explode(
        GraftFunctions.word_shingles(TF.words(col("text")), n)).as("shingle"))
      .join(broadcast(evalSet), Seq("shingle")).distinct()
    val leakedIds = candSh.join(broadcast(hitSet), Seq("shingle"))
      .select(col("doc_id")).distinct()
    val scrubIds = gateIds.join(leakedIds, Seq("doc_id"), "left_anti").cache()
    val scrubbed = cand.join(scrubIds, Seq("doc_id"))
    // stage 3: per-language stratified cap (content-addressed, the
    // sampleStratified thresholds, on the carve-independent md5 facet —
    // membership never moves as SF grows)
    val stratIds = scrubbed
      .filter(substring(md5(col("text")), 3, 2) <
        when(col("lang") === "en", lit("40")).otherwise(lit("c0")))
      .select(col("doc_id")).cache()
    // one subword-token pass over the candidates; every funnel row and
    // the packer read this single frame
    val toks = cand.select(col("doc_id"), col("lang"),
      GraftFunctions.greedy_token_count(TF.normText(col("text"))).as("tok"))
    val staged = toks
      .join(gateIds.withColumn("s1", lit(1)), Seq("doc_id"), "left")
      .join(scrubIds.withColumn("s2", lit(1)), Seq("doc_id"), "left")
      .join(stratIds.withColumn("s3", lit(1)), Seq("doc_id"), "left")
    val funnel = staged.agg(
        count(lit(1)).as("n0"), sum(col("tok")).as("t0"),
        count(col("s1")).as("n1"),
        sum(when(col("s1") === 1, col("tok"))).as("t1"),
        count(col("s2")).as("n2"),
        sum(when(col("s2") === 1, col("tok"))).as("t2"),
        count(col("s3")).as("n3"),
        sum(when(col("s3") === 1, col("tok"))).as("t3"))
      .select(expr(
        """stack(4,
           0, 'candidates',  n0, t0,
           1, 'quality_kept', n1, t1,
           2, 'leak_scrubbed', n2, t2,
           3, 'stratified',   n3, t3)
           AS (stage, stage_name, n_docs, n_tokens)"""))
    // stage 4: pack survivors into 256-token bins per language shard
    // (textTokenBudget's per-key cumulative window — never global)
    val budget = 256
    val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val packed = toks.join(stratIds, Seq("doc_id"))
      .withColumn("cum", sum(col("tok")).over(w))
      .withColumn("bin_id", expr(s"cast((cum - tok) div $budget as int)"))
      .groupBy(col("lang"), col("bin_id"))
      .agg(sum(col("tok")).as("bin_tok"))
      .agg(count(lit(1)).as("n_docs"), sum(col("bin_tok")).as("n_tokens"))
      .select(lit(4).as("stage"), lit("packed_sequences").as("stage_name"),
        col("n_docs"), col("n_tokens"))
    funnel.unionAll(packed).orderBy(col("stage"))
  }

  /** C4-style heuristic page cleaning (Raffel et al. 2020 §2.2) — the
    * line-level rule set every web-corpus pipeline starts from, distinct
    * from the Gopher DOCUMENT-level gate (`text_gopher_quality`):
    *  - keep only lines ending in terminal punctuation;
    *  - keep only lines with ≥ 5 words;
    *  - drop lines containing "javascript";
    *  - drop the whole page if it contains "lorem ipsum" or a "{";
    *  - drop the whole page if < 3 lines survive.
    * The fixture corpus is one flat word-soup line, so a deterministic
    * page is BUILT from it first (6-word lines; doc-id-keyed plants give
    * ~25% of lines no terminal punctuation, ~9% a "javascript" token,
    * 1/29 pages a "lorem ipsum", 1/31 a "{" — every rule non-vacuous,
    * same construction in the oracle), and the C4 kernel then re-splits
    * the assembled page exactly as it would a crawled document. Pure
    * string/array projection — map-only, shuffle-free, linear at any
    * corpus size; the only exchange is the final presentation sort.
    * Output: kept pages with raw/kept line counts, kept word count, and
    * the cleaned text (kept lines joined, original order).
    */
  /** Build the deterministic fixture PAGE for a (doc_id, text) frame —
    * page construction: ONE linear regex pass chunks the normalized text
    * into 6-word lines (replace every 6th inter-word space with \n; the
    * scan resumes after each match, so groups tile exactly like a
    * slice-based chunking — but without the per-line O(words) slice copy
    * that made the first cut of this row quadratic per document), then
    * an index-lambda appends the per-line plants in O(1) per line.
    */
  private def c4PageExpr: Column = {
    val chunked = regexp_replace(TF.normText(col("text")),
      "((?:\\S+ ){5}\\S+) ", "$1\n")
    val pageLines = transform(split(chunked, "\n"), (l, i) => concat(l,
      when(pmod(col("doc_id") + i, lit(11)) === 5, lit(" javascript"))
        .otherwise(lit("")),
      when(pmod(col("doc_id") + i, lit(4)) =!= 3, lit("."))
        .otherwise(lit(""))))
    concat(
      array_join(pageLines, "\n"),
      when(pmod(col("doc_id"), lit(29)) === 7, lit("\nlorem ipsum."))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(31)) === 5, lit("\nvar x = {."))
        .otherwise(lit("")))
  }

  /** The C4 kernel proper, as a reusable STAGE over (doc_id, page):
    * line rules + page rules; kept pages come back with their cleaned
    * text and line/word accounting. Map-only.
    */
  def stageC4(pages: DataFrame): DataFrame = {
    val lines = split(col("page"), "\n")
    // last-char set test == the anchored-regex terminal-punct rule, at a
    // fraction of the interpreted-lambda cost
    val lineOk = (l: Column) =>
      substring(l, -1, 1).isin(".", "!", "?", "\"") &&
        size(split(l, " ")) >= 5 && !l.contains("javascript")
    val kept = filter(lines, lineOk)
    pages
      .select(col("doc_id"),
        size(lines).as("n_lines_raw"),
        size(kept).as("n_lines_kept"),
        aggregate(kept, lit(0L),
          (acc, l) => acc + size(split(l, " "))).as("n_words_kept"),
        array_join(kept, "\n").as("text_clean"),
        (!col("page").contains("lorem ipsum") &&
          !col("page").contains("{")).as("page_ok"))
      .filter(col("page_ok") && col("n_lines_kept") >= 3)
      .select(col("doc_id"), col("n_lines_raw"), col("n_lines_kept"),
        col("n_words_kept"), col("text_clean"))
  }

  private def textC4Filters(s: SparkSession, d: String): DataFrame =
    stageC4(docs(s, d).select(col("doc_id"), c4PageExpr.as("page")))
      .orderBy(col("doc_id"))

  /** WORD-LEVEL blocklist filter — the C4 "bad words" gate (Raffel et
    * al. 1910.10683 §2.2 drop any page containing a blocklist entry),
    * done at WORD granularity: the original C4 matched substrings and
    * famously over-filtered (medical/LGBT pages killed by innocent
    * containments); token-boundary matching is the documented fix this
    * operator encodes — the fixture blocklist entry "a" makes the
    * distinction NON-VACUOUS: as a substring it occurs in "table",
    * "data", "scan" (nearly every doc), as a token it splits the corpus,
    * and the spec asserts kept docs still CONTAIN the substring. Neutral
    * fixture vocabulary; swap in a real list (LDNOOBW etc.) at deploy.
    *
    * Scale shape: the blocklist is a literal array in the plan
    * (model-artifact-sized), so the gate is one codegen
    * `array_intersect` per row inside the scan projection — map-only,
    * no joins, no shuffle except the final report ordering. Emits ONLY
    * flagged docs (report-sized): per-doc distinct blocked words, their
    * count, and the doc's word count — what a filter audit log records;
    * "not in the report" is the keep verdict.
    */
  private val BlockWords = Seq("a", "dup")

  private def textBlocklist(s: SparkSession, d: String): DataFrame = {
    val ws = TF.words(col("text"))
    val hits = array_sort(array_intersect(array_distinct(ws),
      lit(BlockWords.toArray)))
    docs(s, d)
      .select(col("doc_id"), size(ws).as("n_words"), hits.as("hits"))
      .filter(size(col("hits")) > 0)
      .select(col("doc_id"), col("n_words"),
        size(col("hits")).as("n_blocked"),
        concat_ws(" ", col("hits")).as("blocked_words"))
      .orderBy(col("doc_id"))
  }

  /** Fixture page for CORPUS-LEVEL line dedup: 6-word content lines
    * (same single-pass chunking regex as [[c4PageExpr]]) plus planted
    * boilerplate lines whose document frequency spans the threshold's
    * both sides by construction — a universal footer (df = corpus), a
    * half-corpus share line, a ~1/7 rights line, a ~1/23 promo line,
    * and a 50-way "team" line whose df is corpus-size-DEPENDENT (10 at
    * sf0.01 → kept; 100 at sf0.1 → dropped), so the two gate tiers
    * exercise opposite outcomes of the same rule.
    */
  private def lineDedupPageExpr: Column = {
    val chunked = regexp_replace(TF.normText(col("text")),
      "((?:\\S+ ){5}\\S+) ", "$1\n")
    concat(chunked,
      lit("\nsubscribe to our newsletter today"),
      when(pmod(col("doc_id"), lit(2)) === 0,
        lit("\nshare this article with friends")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(7)) === 3,
        lit("\nall rights reserved worldwide")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(23)) === 11,
        lit("\nvisit our partner sites now")).otherwise(lit("")),
      concat(lit("\nteam update number "),
        pmod(col("doc_id"), lit(50)).cast("string")))
  }

  /** Corpus-level line-frequency dedup (CCNet §3.1 / RefinedWeb line
    * dedup shape): drop EVERY occurrence of any line whose document
    * frequency exceeds `maxDf` — repeated lines across a crawl are
    * boilerplate (nav, footers, cookie banners), so unlike
    * [[graft.operators.Dedup]]'s keep-first segment dedup no occurrence
    * survives. Scale shape: one posexplode; df = two-phase aggregate
    * over DISTINCT (doc, line-hash) — map-side distinct bounds the
    * exchange by distinct lines per split; the common set joins back by
    * line-hash (hash-partitioned anti join — NOT assumed broadcastable,
    * the boilerplate set is data-dependent, though AQE converts when
    * small); the rebuild groups each doc's own kept lines
    * (`sort_array(collect_list(struct(pos, line)))` — per-group state is
    * one document's lines, never a corpus-wide window). Linear end to
    * end at any corpus size.
    */
  def stageLineDedup(pages: DataFrame, maxDf: Int): DataFrame = {
    val lines = pages.select(col("doc_id"),
      posexplode(split(col("page"), "\n")).as(Seq("pos", "line")))
    // lines travel the index machinery as xxhash64 longs (8 bytes, not
    // the line text) — the jaccard inverted-index convention; a 64-bit
    // cross-line collision merges two lines' df counts (~2^-64 per
    // pair), negligible against the corpus scale this serves
    val df = lines.select(col("doc_id"), xxhash64(col("line")).as("lk"))
      .distinct()
      .groupBy(col("lk")).agg(count(lit(1)).as("df"))
    val common = df.filter(col("df") > maxDf).select(col("lk"))
    val kept = lines.withColumn("lk", xxhash64(col("line")))
      .join(common, Seq("lk"), "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            x => x.getField("line")), "\n").as("text_kept"))
    pages
      .select(col("doc_id"), size(split(col("page"), "\n")).as("n_lines_raw"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_lines_raw"),
        coalesce(col("n_lines_kept"), lit(0L)).as("n_lines_kept"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
      .orderBy(col("doc_id"))
  }

  private def textLineDedup(s: SparkSession, d: String): DataFrame =
    // the built page caches: the kernel scans its input three times (df
    // count, anti-join probe, raw line count), and re-running the
    // page-build regexes per scan triples the row's cost (a real corpus
    // reads lines straight off parquet — the cache stands in for that
    // materialization; released via Caches.releaseAll)
    stageLineDedup(
      docs(s, d).select(col("doc_id"), lineDedupPageExpr.as("page")).cache(),
      maxDf = 15)

  /** Deterministic fixture HTML page for a (doc_id, text) frame — the
    * crawl-ingest FRONT the curation tiers assume already happened
    * (every C4/Gopher/classifier stage consumes extracted text; a real
    * pipeline starts at raw HTML). The normalized text is chunked into
    * 6-word lines (same single-pass regex as [[c4PageExpr]]), each
    * wrapped in `<p>…</p>` carrying the C4 plants (javascript token,
    * terminal-punct variation) plus an id-keyed inline link; id-keyed
    * nav blocks (pure links), a `<head>` with `<style>`, a body
    * `<script>`, an `<h1>`, and a link+copyright footer complete the
    * page, and the whole page is a single tag stream with NO newlines —
    * line structure must be recovered from block tags, as in real HTML.
    * Every extraction rule in [[stageHtmlExtract]] is exercised by
    * construction: script/style strip (their text must never surface),
    * block-tag line breaking, link-density (nav dies, inline links
    * survive), min-words (the h1/title line dies), stopword-density
    * (the footer dies). The lorem/brace plants ride along as full
    * sentences so the downstream C4 PAGE rules stay non-vacuous in the
    * composed `pipeline_curation`.
    */
  private[graft] def htmlPageExpr: Column = {
    val chunked = regexp_replace(TF.normText(col("text")),
      "((?:\\S+ ){5}\\S+) ", "$1\n")
    val pageLines = transform(split(chunked, "\n"), (l, i) => concat(
      lit("<p>"), l,
      when(pmod(col("doc_id") + i, lit(11)) === 5, lit(" javascript"))
        .otherwise(lit("")),
      when(pmod(col("doc_id") + i, lit(5)) === 2,
        lit(" <a href=\"/m\">more info here</a>")).otherwise(lit("")),
      when(pmod(col("doc_id") + i, lit(4)) =!= 3, lit("."))
        .otherwise(lit("")),
      lit("</p>"),
      when(pmod(col("doc_id") + i, lit(7)) === 3,
        lit("<div class=\"nav\"><a href=\"/h\">home</a> " +
          "<a href=\"/b\">about</a> <a href=\"/c\">contact</a></div>"))
        .otherwise(lit(""))))
    concat(
      lit("<html><head><title>doc page</title><style>p{color:#000}</style>" +
        "</head><body><script>var t=1;track('p')</script>" +
        "<h1> fixture document heading</h1>"),
      array_join(pageLines, ""),
      when(pmod(col("doc_id"), lit(29)) === 7,
        lit("<p>it is a lorem ipsum placeholder paragraph.</p>"))
        .otherwise(lit("")),
      when(pmod(col("doc_id"), lit(31)) === 5,
        lit("<p>function of a var x = { layout.</p>")).otherwise(lit("")),
      lit("<div class=\"footer\"><a href=\"/t\">terms</a> " +
        "copyright 2026 example corp</div></body></html>"))
  }

  /** HTML → text boilerplate extraction as a reusable STAGE over
    * (doc_id, html) — the deterministic jusText/trafilatura-shaped core
    * (Pomikálek 2011 §3.3: classify text blocks by link density,
    * stopword density, and length — here without the DOM):
    *  1. drop `<script>`/`<style>` blocks (their text is code, not
    *     content);
    *  2. break the tag stream into candidate lines at block-closing tags
    *     (`</p>`, `</div>`, `</h1>`);
    *  3. per line: count links BEFORE stripping (`<a ` occurrences),
    *     strip all tags, collapse whitespace;
    *  4. keep lines with ≥ 5 words AND link density 4·links < words AND
    *     ≥ 1 stopword.
    * Output: per input doc, raw/kept line counts, total link count, kept
    * word count, and the extracted text (kept lines joined, original
    * order). Pure single-pass string/array projection — map-only,
    * shuffle-free, linear at any corpus size; at 100 TB this is the same
    * scan-shaped pass as the C4 stage it feeds.
    */
  def stageHtmlExtract(pages: DataFrame): DataFrame = {
    // the rule chain runs as ONE codegen'd kernel
    // ([[graft.functions.HtmlImpls.htmlExtract]]): the equivalent
    // higher-order-function composition evaluated its per-line lambda
    // chain interpreted AND once per referenced field — 7.0 s for the
    // sf0.1 row; the native struct expression is computed once under
    // projection CSE and the row drops to scan speed
    val f = GraftFunctions.html_extract(col("html"))
    pages.select(col("doc_id"),
      f.getField("n_lines_raw").as("n_lines_raw"),
      f.getField("n_lines_kept").as("n_lines_kept"),
      f.getField("n_links").as("n_links"),
      f.getField("n_words_kept").as("n_words_kept"),
      f.getField("text_clean").as("text_clean"))
  }

  private def textHtmlExtract(s: SparkSession, d: String): DataFrame =
    stageHtmlExtract(docs(s, d).select(col("doc_id"), htmlPageExpr.as("html")))
      .select(col("doc_id"), col("n_lines_raw"), col("n_lines_kept"),
        col("n_links"), col("n_words_kept"),
        substring(col("text_clean"), 1, 80).as("clean_head"))
      .orderBy(col("doc_id"))

  /** The canonicalization chain shared by [[textUrlCanon]] and
    * [[dedupUrlKeepBest]]: strip fragment, lowercase scheme+host, strip
    * scheme-default ports and utm_* params, tidy separators.
    */
  private def canonUrlExpr(u0: Column): Column = {
    val u1 = regexp_replace(u0, "#.*$", "")
    val u2 = concat(
      lower(regexp_extract(u1, "^[A-Za-z]+://[^/?#]+", 0)),
      regexp_replace(u1, "^[A-Za-z]+://[^/?#]+", ""))
    val u3 = regexp_replace(u2, "^(https?://[^/:]+):(?:80|443)/", "$1/")
    regexp_replace(
      regexp_replace(u3, "([?&])utm_[A-Za-z]+=[^&#]*&?", "$1"),
      "[?&]+$", "")
  }

  private def textUrlCanon(s: SparkSession, d: String): DataFrame = {
    val planted = concat(col("text"),
      lit(" see HTTP://WWW.Example"), pmod(col("doc_id"), lit(7)),
      lit(".COM:80/Path/"), col("doc_id"),
      lit("?utm_source=rss&id="), col("doc_id"),
      lit("&utm_campaign=x#sec"), col("doc_id"))
    val u0 = regexp_extract(planted, "(?i)https?://[^ ]+", 0)
    docs(s, d).select(col("doc_id"), canonUrlExpr(u0).as("url_canon"))
      .orderBy(col("doc_id"))
  }

  /** URL-keyed dedup with a keep-BEST policy — the crawl-ingest staple
    * (Dolma/CCNet shape): the same page is fetched many times under
    * tracking-param/port/fragment variants; canonicalize
    * ([[canonUrlExpr]]) and keep ONE document per canonical URL — the
    * longest (then smallest doc_id, so ties are deterministic). The
    * fixture corpus has no URLs, so messy colliding URLs are planted
    * (7 hosts × 40 paths → ~280 canonical groups, every group
    * multi-member at sf≥0.01; same expression in the oracle). Selection
    * is a `max_by(struct(...), (n_words, −doc_id))` TWO-PHASE aggregate
    * on the canonical key — never a per-group window sort, so a hot URL
    * (the crawl-dup worst case) costs a partial-merge chain, not a
    * single-task sort; identical skew story to `dedup_keep_latest` /
    * `agg_mode`. Output: canonical url, kept doc, its length, group size.
    */
  /** Keep-best-per-canonical-URL as a reusable STAGE: the input frame
    * (must carry doc_id) gets the fixture's planted messy URL, is
    * canonicalized, and one row per canonical URL survives — the row
    * maximizing (weight, −doc_id). All input columns pass through;
    * `url_canon` and the group size `n_dupes` are appended.
    */
  def stageUrlKeepBest(df: DataFrame, weight: Column): DataFrame = {
    val messy = concat(
      lit("HTTPS://Site"), pmod(col("doc_id"), lit(7)),
      lit(".Example.COM:443/page/"), pmod(col("doc_id"), lit(40)),
      lit("?utm_campaign=c"), col("doc_id"),
      lit("#frag"), col("doc_id"))
    val cols = df.columns.toSeq
    df.withColumn("graft_w", weight)
      .withColumn("url_canon", canonUrlExpr(messy))
      .groupBy(col("url_canon"))
      .agg(
        max_by(struct(cols.map(col): _*),
          struct(col("graft_w"), -col("doc_id"))).as("best"),
        count(lit(1)).as("n_dupes"))
      .select(col("url_canon") +:
        cols.map(c => col(s"best.$c").as(c)) :+ col("n_dupes"): _*)
  }

  private def dedupUrlKeepBest(s: SparkSession, d: String): DataFrame =
    stageUrlKeepBest(
      docs(s, d).select(col("doc_id"),
        size(TF.words(col("text"))).as("n_words")),
      col("n_words"))
      .select(col("url_canon"), col("doc_id"), col("n_words"),
        col("n_dupes"))
      .orderBy(col("url_canon"))

  /** The END-TO-END pre-training corpus pipeline — every stage above
    * composed in production order, reported as the funnel a real corpus
    * run logs: raw → Gopher quality gate → segment-level dedup (documents
    * REBUILT from their kept segments) → benchmark decontamination (the
    * content-addressed '0'-carve of the deduped corpus stands in for the
    * eval set; its docs leave the corpus, contaminated train docs drop,
    * sub-shingle docs trivially pass) → domain-mixture resampling. Each
    * stage consumes the PREVIOUS stage's output — dedup sees only
    * quality-passing docs, decontamination hashes the REBUILT text — so
    * the row gates stage composition, not just each kernel alone.
    *
    * Scale notes: every heavy stage runs exactly once — see the comment
    * inside [[pipelineCorpus]] (a 100 TB run would materialize each
    * stage to parquet instead of caching; the stages are the reusable
    * APIs above, so that is just inserting writes between calls). Every
    * stage is the shuffle shape its own scaladoc argues: map-only
    * filters, the skew-immune keeper aggregate, one broadcast probe,
    * one hash filter.
    */
  /** Stage 1: the Gopher quality gate over (`doc_id`, `source`, `text`). */
  def qualityPred: Column = {
    val ws = TF.words(col("text"))
    val nw = size(ws)
    val awl = length(regexp_replace(TF.normText(col("text")), " ", ""))
      .cast("double") / nw
    val nStop = size(filter(ws,
      x => x.isInCollection(Seq("the", "a", "is", "and", "of"))))
    nw.between(10, 100000) && awl.between(2.0, 12.0) && (nStop >= 2)
  }

  def stageQuality(raw: DataFrame): DataFrame = raw.filter(qualityPred)

  /** Stage 2: segment dedup with document rebuild — output
    * (`doc_id`, `source`, `kept_text`, `n_tok`, `carve`).
    */
  def stageRebuild(quality: DataFrame, segLen: Int = 3): DataFrame =
    Dedup.segmentKeepers(quality.select(col("doc_id"), col("text")), segLen)
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x.getField("seg"))).as("kept_text"),
        (count(lit(1)) * segLen).cast("long").as("n_tok"))
      .join(quality.select(col("doc_id"), col("source")), Seq("doc_id"))
      .withColumn("carve", substring(md5(col("kept_text")), 1, 1))

  /** Stage 3: decontamination against the carve-'0' slice (the stand-in
    * eval set); bench docs leave the corpus, contaminated docs drop,
    * sub-shingle docs trivially pass.
    */
  def stageDecontam(rebuilt: DataFrame): DataFrame = {
    val (train, contaminated) = trainAndContaminated(rebuilt)
    train.join(contaminated, Seq("doc_id"), "left_anti")
  }

  /** Stage 3's rule: the training side of a rebuilt corpus (carve ≠ '0')
    * and the `doc_id`s in it that the carve-'0' slice contaminates.
    */
  private def trainAndContaminated(rebuilt: DataFrame): (DataFrame, DataFrame) = {
    val train = rebuilt.filter(col("carve") =!= "0")
    (train, decontaminate(
      train.select(col("doc_id"), col("kept_text").as("text")),
      rebuilt.filter(col("carve") === "0")
        .select(col("kept_text").as("text")))
      .select(col("doc_id")))
  }

  /** Stage 4: tiered domain-mixture resampling on the surviving corpus. */
  def stageMixture(decontam: DataFrame): DataFrame = decontam.filter(mixturePred)

  /** Stage 4's rule: source group 0 stays whole; groups 1, 2 and 3+ keep
    * the docs whose `kept_text` md5 falls under 0x80, 0x40 and 0x20.
    */
  private def mixturePred: Column = {
    val grp = expr("cast(substring(source, 4) as int) div 5")
    grp === 0 ||
      substring(md5(col("kept_text")), 1, 2) <
        when(grp === 1, lit("80")).when(grp === 2, lit("40"))
          .otherwise(lit("20"))
  }

  /** The funnel summary over already-built stages (stage 0/1 count raw
    * whitespace tokens; rebuilt stages carry `n_tok`).
    */
  def pipelineFunnel(raw: DataFrame, quality: DataFrame, rebuilt: DataFrame,
                     decontam: DataFrame, mixture: DataFrame): DataFrame = {
    val nw = size(TF.words(col("text")))
    def funnel(stage: Int, name: String, df: DataFrame, tok: Column) =
      df.agg(count(lit(1)).as("n_docs"), sum(tok).cast("long").as("n_tokens"))
        .select(lit(stage).as("stage"), lit(name).as("stage_name"),
          col("n_docs"), col("n_tokens"))
    funnel(0, "raw", raw, nw.cast("long"))
      .unionAll(funnel(1, "quality", quality, nw.cast("long")))
      .unionAll(funnel(2, "dedup", rebuilt, col("n_tok")))
      .unionAll(funnel(3, "decontam", decontam, col("n_tok")))
      .unionAll(funnel(4, "mixture", mixture, col("n_tok")))
      .orderBy(col("stage"))
  }

  private def pipelineCorpus(s: SparkSession, d: String): DataFrame = {
    val raw = docs(s, d).select(col("doc_id"), col("source"), col("text"))
    // Heavy stages run ONCE (the pipelinePretraining discipline —
    // pipelineFunnel's per-stage aggregates would re-run the segment
    // keeper 3x and the decontamination join 2x through stage lineage):
    // stages 0-1 collapse into one conditional aggregate over a single
    // raw scan; the rebuilt corpus caches (it feeds stages 2-4); the
    // decontamination survivor set caches doc_id-only; stages 2-4
    // collapse into one conditional aggregate over the cached rebuild.
    // Caches released by the session owner via Caches.releaseAll.
    val nw = size(TF.words(col("text"))).cast("long")
    val head = raw.agg(
      count(lit(1)).as("n0"), sum(nw).as("t0"),
      count(when(qualityPred, 1)).as("n1"),
      sum(when(qualityPred, nw)).as("t1"))
    val rebuilt = stageRebuild(stageQuality(raw)).cache()
    val (train, contaminated) = trainAndContaminated(rebuilt)
    val decontamIds = train.select(col("doc_id"))
      .join(contaminated, Seq("doc_id"), "left_anti").cache()
    val mix = mixturePred
    val tail = rebuilt
      .join(decontamIds.withColumn("dc", lit(1)), Seq("doc_id"), "left")
      .agg(count(lit(1)).as("n2"), sum(col("n_tok")).as("t2"),
        count(col("dc")).as("n3"),
        sum(when(col("dc") === 1, col("n_tok"))).as("t3"),
        count(when(col("dc") === 1 && mix, 1)).as("n4"),
        sum(when(col("dc") === 1 && mix, col("n_tok"))).as("t4"))
    head.crossJoin(tail).select(expr(
      """stack(5,
         0, 'raw',      n0, t0,
         1, 'quality',  n1, t1,
         2, 'dedup',    n2, t2,
         3, 'decontam', n3, t3,
         4, 'mixture',  n4, t4)
         AS (stage, stage_name, n_docs, n_tokens)"""))
      .orderBy(col("stage"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_corpus" -> pipelineCorpus _,
    "text_url_canon" -> textUrlCanon _,
    "text_c4_filters" -> textC4Filters _,
    "text_blocklist" -> textBlocklist _,
    "text_line_dedup" -> textLineDedup _,
    "text_html_extract" -> textHtmlExtract _,
    "dedup_url_keep_best" -> dedupUrlKeepBest _,
    "sample_importance" -> sampleImportance _,
    "text_quality_classifier" -> textQualityClassifier _,
    "text_bpe_train" -> textBpeTrain _,
    "text_unigram_train" -> textUnigramTrain _,
    "text_unigram_apply" -> textUnigramApply _,
    "pipeline_pretraining" -> pipelinePretraining _,
    "pipeline_curation" -> pipelineCuration _,
    "pipeline_eval_harness" -> pipelineEvalHarness _,
    "pipeline_rag" -> pipelineRag _,
    "pipeline_rag_batch" -> pipelineRagBatch _,
    "sample_hash" -> sampleHash _,
    "sample_stratified" -> sampleStratified _,
    "sample_split_grouped" -> sampleSplitGrouped _,
    "sample_mixture" -> sampleMixture _,
    "sample_temperature" -> sampleTemperature _,
    "text_lm_score" -> textLmScore _,
    "text_lm_buckets" -> textLmBuckets _,
    "text_bm25_topk" -> textBm25TopK _,
    "corpus_diff" -> corpusDiff _,
    "text_vocab_coverage" -> textVocabCoverage _,
    "text_concentration" -> textConcentration _,
    "pack_shards" -> packShards _,
    "pack_sequences" -> packSequences _,
    "pack_global_shuffle" -> packGlobalShuffle _,
    "text_token_budget" -> textTokenBudget _,
    "text_token_budget_bpe" -> textTokenBudgetBpe _,
    "pack_interleave" -> packInterleave _,
    "expr_url_parse" -> exprUrlParse _,
    "quality_drift" -> qualityDrift _,
    "text_gopher_quality" -> textGopherQuality _,
    "text_clean" -> textClean _,
    "text_decontaminate" -> textDecontaminate _,
    "text_decontaminate_bloom" -> textDecontaminateBloom _,
    "text_decontaminate_frac" -> textDecontaminateFraction _,
    "text_decontaminate_frac_bloom" -> textDecontaminateFractionBloom _,
    "text_decontaminate_scrub" -> textDecontaminateScrub _,
    "text_repetition" -> textRepetition _,
    "text_tfidf" -> textTfidf _,
    "text_vocab" -> textVocab _,
    "text_pii_redact" -> textPiiRedact _,
    "text_ngram_stats" -> textNgramStats _,
    "text_novelty" -> textNovelty _,
    "text_novelty_curve" -> textNoveltyCurve _,
    "text_tokens" -> textTokens _,
    "text_chunk" -> textChunk _,
    "text_quality" -> textQuality _,
    "text_langid" -> textLangId _,
    "text_fingerprint" -> textFingerprint _,
    "text_fingerprint_native" -> textFingerprintNative _
  )

  /** Shared DuckDB-side normalization (mirrors TextFunctions.normText). */
  val NormSql = "lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))"

  /** Oracle for [[textBpeTrain]]: the k merge rounds UNROLLED as
    * generated CTE layers (a recursive CTE cannot re-aggregate the whole
    * corpus per iteration). Each layer: overlapping adjacent pair counts
    * → best pair (count desc, lexicographic) → greedy left-to-right
    * merge via gaps-and-islands (runs of consecutive matches — only
    * possible for l=r chains — keep even offsets) → rebuilt symbol
    * lists. The merge layer replays the Spark fold exactly.
    */
  private def bpeTrainOracle(k: Int): String = {
    val head = s"""
      WITH words AS (
        SELECT w, count(*)::BIGINT AS freq FROM (
          SELECT unnest(string_split($NormSql, ' ')) AS w FROM documents)
        WHERE len(w) > 0 GROUP BY w),
      syms0 AS (
        SELECT w, freq,
               list_transform(range(len(w)), i -> w[i+1:i+1]) AS syms
        FROM words)"""
    val layers = (0 until k).map { i => s""",
      pairs$i AS (
        SELECT syms[j+1] AS l, syms[j+2] AS r, sum(freq)::BIGINT AS cnt
        FROM syms$i, unnest(range(len(syms)-1)) AS t(j) GROUP BY 1, 2),
      best$i AS (
        SELECT $i AS rank, l, r, cnt FROM pairs$i
        ORDER BY cnt DESC, l, r LIMIT 1),
      pos$i AS (
        SELECT s.w, s.freq, j, s.syms[j+1] AS sym,
               (j+1 < len(s.syms) AND s.syms[j+1] = b.l
                 AND s.syms[j+2] = b.r) AS m
        FROM syms$i s CROSS JOIN best$i b,
             unnest(range(len(s.syms))) AS t(j)),
      isl$i AS (
        SELECT *, CASE WHEN m THEN j - ROW_NUMBER() OVER
            (PARTITION BY w, m ORDER BY j) END AS grp
        FROM pos$i),
      sel$i AS (
        SELECT *, m AND ((j - min(j) OVER (PARTITION BY w, grp)) % 2 = 0)
               AS pick
        FROM isl$i),
      mrg$i AS (
        SELECT w, freq, j,
               CASE WHEN pick THEN sym ||
                    lead(sym) OVER (PARTITION BY w ORDER BY j)
                    ELSE sym END AS sym2,
               coalesce(lag(pick) OVER (PARTITION BY w ORDER BY j), false)
                 AS dropme
        FROM sel$i),
      syms${i + 1} AS (
        SELECT w, freq, list(sym2 ORDER BY j) AS syms FROM mrg$i
        WHERE NOT dropme GROUP BY w, freq)"""
    }.mkString
    val union = (0 until k).map(i => s"SELECT * FROM best$i")
      .mkString(" UNION ALL ")
    s"""$head$layers
      SELECT rank, l AS lhs, r AS rhs, l || r AS merged, cnt AS pair_count
      FROM ($union) ORDER BY rank"""
  }

  /** Shared oracle CTE chain replaying [[htmlPageExpr]] (page build) and
    * [[stageHtmlExtract]] (script/style strip → block-tag line break →
    * per-line link count / tag strip / word+stopword count → keep rules)
    * — prefixed with `WITH ` by `text_html_extract` and
    * `pipeline_curation`. Final CTE `ext` carries one row per document
    * with the extraction summary and the extracted text.
    */
  private[graft] val HtmlExtractCtes = raw"""
      base AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws FROM documents),
      built AS (
        SELECT doc_id,
               list_transform(range(CAST(ceil(len(ws)/6.0) AS INT)), i ->
                 '<p>' || array_to_string(ws[i*6+1 : i*6+6], ' ') ||
                 CASE WHEN (doc_id + i) % 11 = 5 THEN ' javascript'
                      ELSE '' END ||
                 CASE WHEN (doc_id + i) % 5 = 2
                      THEN ' <a href="/m">more info here</a>' ELSE '' END ||
                 CASE WHEN (doc_id + i) % 4 <> 3 THEN '.' ELSE '' END ||
                 '</p>' ||
                 CASE WHEN (doc_id + i) % 7 = 3
                      THEN '<div class="nav"><a href="/h">home</a> ' ||
                           '<a href="/b">about</a> ' ||
                           '<a href="/c">contact</a></div>'
                      ELSE '' END) AS pl
        FROM base),
      pages AS (
        SELECT doc_id,
               '<html><head><title>doc page</title>' ||
               '<style>p{color:#000}</style></head>' ||
               '<body><script>var t=1;track(''p'')</script>' ||
               '<h1> fixture document heading</h1>' ||
               array_to_string(pl, '') ||
               CASE WHEN doc_id % 29 = 7
                    THEN '<p>it is a lorem ipsum placeholder paragraph.</p>'
                    ELSE '' END ||
               CASE WHEN doc_id % 31 = 5
                    THEN '<p>function of a var x = { layout.</p>'
                    ELSE '' END ||
               '<div class="footer"><a href="/t">terms</a> ' ||
               'copyright 2026 example corp</div></body></html>' AS html
        FROM built),
      lns AS (
        SELECT doc_id,
               string_split(regexp_replace(regexp_replace(regexp_replace(
                 html,
                 '(?s)<script[^>]*>.*?</script>', '', 'g'),
                 '(?s)<style[^>]*>.*?</style>', '', 'g'),
                 '</p>|</div>|</h1>', chr(10), 'g'), chr(10)) AS lines
        FROM pages),
      fw AS (
        SELECT doc_id, lines,
               list_transform(lines, l -> {
                 'links': len(regexp_extract_all(l, '<a ')),
                 's': trim(regexp_replace(regexp_replace(l,
                        '<[^>]*>', '', 'g'), '\s+', ' ', 'g'))
               }) AS f0
        FROM lns),
      fx AS (
        SELECT doc_id, lines,
               list_transform(f0, f -> {
                 'links': f.links, 's': f.s,
                 'w': len(string_split(f.s, ' ')),
                 'st': list_sum(list_transform(string_split(f.s, ' '),
                         x -> CASE WHEN x IN ('the','a','an','and','of',
                                'to','in','is','on','for','with')
                              THEN 1 ELSE 0 END))
               }) AS fs
        FROM fw),
      ext AS (
        SELECT doc_id,
               CAST(len(lines) AS INT) AS n_lines_raw,
               CAST(len(list_filter(fs, f -> f.w >= 5 AND 4*f.links < f.w
                 AND f.st >= 1)) AS INT) AS n_lines_kept,
               CAST(list_sum(list_transform(fs, f -> f.links)) AS BIGINT)
                 AS n_links,
               CAST(coalesce(list_sum(list_transform(
                 list_filter(fs, f -> f.w >= 5 AND 4*f.links < f.w
                   AND f.st >= 1), f -> f.w)), 0) AS BIGINT) AS n_words_kept,
               coalesce(array_to_string(list_transform(
                 list_filter(fs, f -> f.w >= 5 AND 4*f.links < f.w
                   AND f.st >= 1), f -> f.s), chr(10)), '') AS text_clean
        FROM fx)"""

  /** Pair-rank lookup for the BPE oracle, generated from the shared merge
    * table: first-match CASE in rank order (pairs are unique, so order is
    * cosmetic; ranks are the THEN values). ELSE 1000000 = "no merge".
    */
  private val BpeCaseSql: String =
    graft.functions.HashImpls.BpeMerges.zipWithIndex.map {
      case ((a, b), r) => s"WHEN toks[i] = '$a' AND toks[i+1] = '$b' THEN $r"
    }.mkString("CASE ", " ", " ELSE 1000000 END")

  private val DecontamSql = s"""
      WITH w AS (
        SELECT doc_id, substr(md5(text), 1, 1) AS carve,
               string_split($NormSql, ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, carve,
               list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] ||
                               ' ' || w[i+3] || ' ' || w[i+4]
                 for i in range(1, len(w)-3) ]) AS sh
        FROM w WHERE len(w) >= 5),
      bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE carve = '0'),
      train AS (SELECT doc_id, unnest(sh) AS shingle FROM sh WHERE carve <> '0')
      SELECT t.doc_id, COUNT(*) AS n_hits
      FROM train t JOIN bench b USING (shingle)
      GROUP BY t.doc_id ORDER BY t.doc_id"""

  private val DecontamFracSql: String = s"""
      WITH w AS (
        SELECT doc_id, substr(md5(text), 1, 1) AS carve,
               string_split($NormSql, ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, carve,
               list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] ||
                               ' ' || w[i+3] || ' ' || w[i+4]
                 for i in range(1, len(w)-3) ]) AS sh
        FROM w WHERE len(w) >= 5),
      bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE carve = '0'),
      train AS (
        SELECT doc_id, CAST(len(sh) AS INT) AS n_shingles,
               unnest(sh) AS shingle
        FROM sh WHERE carve <> '0')
      SELECT t.doc_id, t.n_shingles, COUNT(*) AS n_hits,
             CAST(COUNT(*) AS DOUBLE) / t.n_shingles AS frac,
             CAST(COUNT(*) AS DOUBLE) / t.n_shingles >= 0.5 AS dropped
      FROM train t JOIN bench b USING (shingle)
      GROUP BY t.doc_id, t.n_shingles ORDER BY t.doc_id"""

  val oracles: Map[String, String] = Map(
    "pipeline_eval_harness" -> s"""
      WITH RECURSIVE v(w, l) AS (SELECT * FROM (VALUES ${
        graft.functions.HashImpls.TokenVocab
          .map(w => s"('$w', ${w.length})").mkString(", ")})),
      cand AS (
        SELECT doc_id, lang, text, $NormSql AS s0 FROM documents
        WHERE substr(md5(text), 1, 1) = '1'),
      step(doc_id, pos, n) AS (
        SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM cand
        UNION ALL
        SELECT st.doc_id,
               st.pos + COALESCE((SELECT MAX(l) FROM v
                                  WHERE substr(t.s0, CAST(st.pos AS INT), l)
                                          = w), 1),
               st.n + 1
        FROM step st JOIN cand t ON st.doc_id = t.doc_id
        WHERE st.pos <= len(t.s0)),
      toks AS (SELECT doc_id, MAX(n) AS tok FROM step GROUP BY doc_id),
      gm AS (
        SELECT doc_id,
               CAST(len(ws) AS INT) AS n_words,
               CAST(length(replace(s0, ' ', '')) AS DOUBLE) / len(ws) AS awl,
               CAST(list_sum(list_transform(ws,
                 x -> CASE WHEN x IN ('the','a','is','and','of')
                      THEN 1 ELSE 0 END)) AS INT) AS n_stop
        FROM (SELECT doc_id, string_split(s0, ' ') AS ws, s0 FROM cand)),
      gated AS (
        SELECT c.* FROM cand c JOIN gm USING (doc_id)
        WHERE n_words BETWEEN 10 AND 100000 AND awl BETWEEN 2.0 AND 12.0
          AND n_stop >= 2),
      csh AS (
        SELECT doc_id,
               list_distinct([ w5[i] || ' ' || w5[i+1] || ' ' || w5[i+2] ||
                               ' ' || w5[i+3] || ' ' || w5[i+4]
                 for i in range(1, len(w5)-3) ]) AS sh
        FROM (SELECT doc_id, string_split(s0, ' ') AS w5 FROM gated)
        WHERE len(w5) >= 5),
      evalset AS (SELECT DISTINCT unnest(sh) AS shingle FROM csh),
      tsh AS (
        SELECT list_distinct([ w5[i] || ' ' || w5[i+1] || ' ' || w5[i+2] ||
                               ' ' || w5[i+3] || ' ' || w5[i+4]
                 for i in range(1, len(w5)-3) ]) AS sh
        FROM (SELECT string_split($NormSql, ' ') AS w5 FROM documents
              WHERE substr(md5(text), 1, 1) <> '1')
        WHERE len(w5) >= 5),
      hitset AS (
        SELECT DISTINCT t.shingle
        FROM (SELECT unnest(sh) AS shingle FROM tsh) t
        JOIN evalset USING (shingle)),
      leaked AS (
        SELECT DISTINCT k.doc_id
        FROM (SELECT doc_id, unnest(sh) AS shingle FROM csh) k
        JOIN hitset USING (shingle)),
      scrub AS (
        SELECT * FROM gated
        WHERE doc_id NOT IN (SELECT doc_id FROM leaked)),
      strat AS (
        SELECT * FROM scrub
        WHERE substr(md5(text), 3, 2) <
              CASE WHEN lang = 'en' THEN '40' ELSE 'c0' END),
      pk AS (
        SELECT s.lang, s.doc_id, t.tok,
               SUM(t.tok) OVER (PARTITION BY s.lang ORDER BY s.doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
        FROM strat s JOIN toks t USING (doc_id)),
      bins AS (
        SELECT lang, CAST((cum - tok) // 256 AS INT) AS bin_id,
               SUM(tok) AS bt
        FROM pk GROUP BY lang, bin_id),
      funnel AS (
        SELECT 0 AS stage, 'candidates' AS stage_name, COUNT(*) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS n_tokens
        FROM cand JOIN toks USING (doc_id)
        UNION ALL
        SELECT 1, 'quality_kept', COUNT(*), CAST(SUM(tok) AS BIGINT)
        FROM gated JOIN toks USING (doc_id)
        UNION ALL
        SELECT 2, 'leak_scrubbed', COUNT(*), CAST(SUM(tok) AS BIGINT)
        FROM scrub JOIN toks USING (doc_id)
        UNION ALL
        SELECT 3, 'stratified', COUNT(*), CAST(SUM(tok) AS BIGINT)
        FROM strat JOIN toks USING (doc_id)
        UNION ALL
        SELECT 4, 'packed_sequences', COUNT(*), CAST(SUM(bt) AS BIGINT)
        FROM bins)
      SELECT * FROM funnel ORDER BY stage""",
    "pipeline_corpus" -> s"""
      WITH raw AS (
        SELECT doc_id, source, $NormSql AS norm,
               string_split($NormSql, ' ') AS ws
        FROM documents
      ),
      quality AS (
        SELECT * FROM raw
        WHERE len(ws) BETWEEN 10 AND 100000
          AND CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(ws)
              BETWEEN 2.0 AND 12.0
          AND CAST(list_sum(list_transform(ws,
                x -> CASE WHEN x IN ('the','a','is','and','of')
                     THEN 1 ELSE 0 END)) AS INT) >= 2
      ),
      seg AS (
        SELECT doc_id, source,
               unnest(range(0, len(ws) // 3)) AS seg_idx,
               unnest([ array_to_string(ws[3*i+1 : 3*i+3], ' ')
                        for i in range(0, len(ws) // 3) ]) AS seg
        FROM quality
      ),
      keepers AS (
        SELECT doc_id, source, seg_idx, seg FROM (
          SELECT doc_id, source, seg_idx, seg,
                 ROW_NUMBER() OVER (PARTITION BY seg
                                    ORDER BY doc_id, seg_idx) AS rn
          FROM seg) WHERE rn = 1
      ),
      rebuilt AS (
        SELECT doc_id, source,
               string_agg(seg, ' ' ORDER BY seg_idx) AS kept_text,
               CAST(3 * COUNT(*) AS BIGINT) AS n_tok
        FROM keepers GROUP BY doc_id, source
      ),
      rw AS (
        SELECT *, string_split(kept_text, ' ') AS kws,
               substr(md5(kept_text), 1, 1) AS carve
        FROM rebuilt
      ),
      sh AS (
        SELECT doc_id, source, n_tok, kept_text, carve,
               list_distinct([ array_to_string(kws[i : i+4], ' ')
                               for i in range(1, len(kws) - 3) ]) AS sh5
        FROM rw WHERE len(kws) >= 5
      ),
      bench AS (SELECT DISTINCT unnest(sh5) AS s FROM sh WHERE carve = '0'),
      decontam AS (
        SELECT t.doc_id, t.source, t.n_tok, t.kept_text FROM sh t
        WHERE t.carve <> '0'
          AND NOT EXISTS (SELECT 1 FROM bench b, unnest(t.sh5) AS u(us)
                          WHERE u.us = b.s)
        UNION ALL
        SELECT doc_id, source, n_tok, kept_text FROM rw
        WHERE carve <> '0' AND len(kws) < 5
      ),
      mixture AS (
        SELECT * FROM decontam
        WHERE CAST(substr(source, 4) AS INT) // 5 = 0
           OR substr(md5(kept_text), 1, 2) <
              (CASE CAST(substr(source, 4) AS INT) // 5
                    WHEN 1 THEN '80' WHEN 2 THEN '40' ELSE '20' END)
      )
      SELECT 0 AS stage, 'raw' AS stage_name, COUNT(*) AS n_docs,
             CAST(SUM(len(ws)) AS BIGINT) AS n_tokens FROM raw
      UNION ALL
      SELECT 1, 'quality', COUNT(*), CAST(SUM(len(ws)) AS BIGINT) FROM quality
      UNION ALL
      SELECT 2, 'dedup', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM rebuilt
      UNION ALL
      SELECT 3, 'decontam', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM decontam
      UNION ALL
      SELECT 4, 'mixture', COUNT(*), CAST(SUM(n_tok) AS BIGINT) FROM mixture
      ORDER BY stage""",
    "text_url_canon" -> raw"""
      WITH t AS (
        SELECT doc_id,
               text || ' see HTTP://WWW.Example' || (doc_id % 7) ||
               '.COM:80/Path/' || doc_id || '?utm_source=rss&id=' || doc_id ||
               '&utm_campaign=x#sec' || doc_id AS planted
        FROM documents
      ), u AS (
        SELECT doc_id, regexp_extract(planted, '(?i)https?://[^ ]+') AS u0
        FROM t
      ), s AS (
        SELECT doc_id, regexp_replace(u0, '#.*$$', '') AS u1 FROM u
      ), h AS (
        SELECT doc_id,
               lower(regexp_extract(u1, '^[A-Za-z]+://[^/?#]+')) ||
               regexp_replace(u1, '^[A-Za-z]+://[^/?#]+', '') AS u2
        FROM s
      ), p AS (
        SELECT doc_id,
               regexp_replace(u2, '^(https?://[^/:]+):(?:80|443)/', '\1/') AS u3
        FROM h
      )
      SELECT doc_id,
             regexp_replace(regexp_replace(u3,
               '([?&])utm_[A-Za-z]+=[^&#]*&?', '\1', 'g'),
               '[?&]+$$', '') AS url_canon
      FROM p ORDER BY doc_id""",
    // the standalone crawl-front row: page build + extraction replayed,
    // per-doc summary of what survived the boilerplate rules
    "text_html_extract" -> raw"""
      WITH $HtmlExtractCtes
      SELECT doc_id, n_lines_raw, n_lines_kept, n_links, n_words_kept,
             substr(text_clean, 1, 80) AS clean_head
      FROM ext ORDER BY doc_id""",
    // the full curation chain replayed: HTML boilerplate extraction ->
    // C4 kernel over the EXTRACTED text -> canon-URL keeper over the
    // CLEANED docs -> importance selection over the CLEANED text
    "pipeline_curation" -> raw"""
      WITH $HtmlExtractCtes,
      exth AS (SELECT * FROM ext WHERE n_lines_kept >= 1),
      c4k AS (
        SELECT doc_id,
               list_filter(string_split(text_clean, chr(10)), l ->
                 regexp_matches(l, '[.!?"]$$')
                 AND len(string_split(l, ' ')) >= 5
                 AND NOT contains(l, 'javascript')) AS kept_lines,
               NOT contains(text_clean, 'lorem ipsum')
                 AND NOT contains(text_clean, '{') AS page_ok
        FROM exth),
      cleaned AS (
        SELECT doc_id,
               CAST(list_sum(list_transform(kept_lines,
                 l -> len(string_split(l, ' ')))) AS BIGINT) AS n_words_kept,
               array_to_string(kept_lines, chr(10)) AS text_clean
        FROM c4k WHERE page_ok AND len(kept_lines) >= 3),
      u0t AS (
        SELECT doc_id, n_words_kept, text_clean,
               'HTTPS://Site' || (doc_id % 7) || '.Example.COM:443/page/' ||
               (doc_id % 40) || '?utm_campaign=c' || doc_id ||
               '#frag' || doc_id AS u0
        FROM cleaned),
      us AS (SELECT *, regexp_replace(u0, '#.*$$', '') AS u1 FROM u0t),
      uh AS (
        SELECT *, lower(regexp_extract(u1, '^[A-Za-z]+://[^/?#]+')) ||
               regexp_replace(u1, '^[A-Za-z]+://[^/?#]+', '') AS u2
        FROM us),
      up AS (
        SELECT *, regexp_replace(u2, '^(https?://[^/:]+):(?:80|443)/', '\1/')
                 AS u3
        FROM uh),
      uc AS (
        SELECT doc_id, n_words_kept, text_clean,
               regexp_replace(regexp_replace(u3,
                 '([?&])utm_[A-Za-z]+=[^&#]*&?', '\1', 'g'),
                 '[?&]+$$', '') AS url_canon
        FROM up),
      kept AS (
        SELECT doc_id, n_words_kept, text_clean FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY url_canon
                      ORDER BY n_words_kept DESC, doc_id ASC) AS rn
          FROM uc) WHERE rn = 1),
      basew AS (
        SELECT doc_id,
               string_split(lower(regexp_replace(trim(text_clean),
                 '\s+', ' ', 'g')), ' ') AS ws2,
               substr(md5(text_clean), 1, 1) = '0' AS is_target
        FROM kept),
      bg AS (
        SELECT doc_id, is_target,
               unnest([ws2[i] || ' ' || ws2[i+1] FOR i IN range(1, len(ws2))])
                 AS b
        FROM basew),
      ex AS (
        SELECT doc_id, is_target,
               CAST((strpos('0123456789abcdef', substr(md5(b), 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(md5(b), 2, 1)) - 1)
                 AS INT) AS bucket
        FROM bg),
      prof AS (
        SELECT bucket, COUNT(*) AS tcnt FROM ex WHERE is_target
        GROUP BY bucket),
      scored AS (
        SELECT e.doc_id, CAST(SUM(COALESCE(p.tcnt, 0)) AS BIGINT) AS score
        FROM ex e LEFT JOIN prof p ON e.bucket = p.bucket
        WHERE NOT e.is_target GROUP BY e.doc_id),
      tot AS (
        SELECT CAST(SUM(score) AS BIGINT) AS total, COUNT(*) AS n_docs
        FROM scored),
      selw AS (
        SELECT k.doc_id, k.n_words_kept
        FROM kept k JOIN scored s ON k.doc_id = s.doc_id, tot
        WHERE s.score * tot.n_docs > tot.total)
      SELECT 0 AS stage, 'raw' AS stage_name, COUNT(*) AS n_docs,
             CAST(SUM(len(string_split($NormSql, ' '))) AS BIGINT) AS n_words
      FROM documents
      UNION ALL
      SELECT 1, 'html', COUNT(*), CAST(SUM(n_words_kept) AS BIGINT)
      FROM exth
      UNION ALL
      SELECT 2, 'c4', COUNT(*), CAST(SUM(n_words_kept) AS BIGINT)
      FROM cleaned
      UNION ALL
      SELECT 3, 'url_dedup', COUNT(*), CAST(SUM(n_words_kept) AS BIGINT)
      FROM kept
      UNION ALL
      SELECT 4, 'selected', COUNT(*), CAST(SUM(n_words_kept) AS BIGINT)
      FROM selw
      ORDER BY stage""",
    "sample_importance" -> s"""
      WITH basew AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws,
               substr(md5(text), 1, 1) = '0' AS is_target
        FROM documents),
      bg AS (
        SELECT doc_id, is_target,
               unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])
                 AS b
        FROM basew),
      ex AS (
        SELECT doc_id, is_target,
               CAST((strpos('0123456789abcdef', substr(md5(b), 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(md5(b), 2, 1)) - 1)
                 AS INT) AS bucket
        FROM bg),
      prof AS (
        SELECT bucket, COUNT(*) AS tcnt FROM ex WHERE is_target
        GROUP BY bucket),
      scored AS (
        SELECT e.doc_id, CAST(SUM(COALESCE(p.tcnt, 0)) AS BIGINT) AS score,
               COUNT(*) AS n_bigrams
        FROM ex e LEFT JOIN prof p ON e.bucket = p.bucket
        WHERE NOT e.is_target GROUP BY e.doc_id),
      tot AS (
        SELECT CAST(SUM(score) AS BIGINT) AS total, COUNT(*) AS n_docs
        FROM scored)
      SELECT s.doc_id, s.score, s.n_bigrams
      FROM scored s, tot
      WHERE s.score * tot.n_docs > tot.total
      ORDER BY s.doc_id""",
    // the full chain replayed: classifier carve/train/score -> 5-gram
    // decontamination of the survivors -> exact keep-first dedup, with
    // every stage's doc and greedy-subword-token mass re-derived
    "pipeline_pretraining" -> s"""
      WITH RECURSIVE v(w, l) AS (SELECT * FROM (VALUES ${
        graft.functions.HashImpls.TokenVocab
          .map(w => s"('$w', ${w.length})").mkString(", ")})),
      raw AS (SELECT doc_id, text, $NormSql AS s0 FROM documents),
      step(doc_id, pos, n) AS (
        SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM raw
        UNION ALL
        SELECT st.doc_id,
               st.pos + COALESCE((SELECT MAX(l) FROM v
                                  WHERE substr(t.s0, CAST(st.pos AS INT), l)
                                          = w), 1),
               st.n + 1
        FROM step st JOIN raw t ON st.doc_id = t.doc_id
        WHERE st.pos <= len(t.s0)),
      toks AS (SELECT doc_id, MAX(n) AS tok FROM step GROUP BY doc_id),
      basew AS (
        SELECT doc_id, string_split(s0, ' ') AS ws,
               CASE WHEN substr(md5(text), 1, 1) = '0' THEN 'pos'
                    WHEN substr(md5(text), 1, 1) = 'f' THEN 'neg'
                    ELSE 'pool' END AS slice
        FROM raw),
      bg AS (
        SELECT doc_id, slice,
               unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])
                 AS b
        FROM basew),
      ex AS (
        SELECT doc_id, slice,
               CAST((strpos('0123456789abcdef', substr(md5(b), 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(md5(b), 2, 1)) - 1)
                 AS INT) AS bucket
        FROM bg),
      cnts AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN slice = 'pos' THEN 1 ELSE 0 END) AS BIGINT)
                 AS pc,
               CAST(SUM(CASE WHEN slice = 'neg' THEN 1 ELSE 0 END) AS BIGINT)
                 AS nc
        FROM ex WHERE slice <> 'pool' GROUP BY bucket),
      tot AS (
        SELECT CAST(SUM(pc) AS BIGINT) AS pt, CAST(SUM(nc) AS BIGINT) AS nt
        FROM cnts),
      wts AS (SELECT bucket, pc * nt - nc * pt AS wgt FROM cnts, tot),
      scored AS (
        SELECT e.doc_id, CAST(SUM(COALESCE(w2.wgt, 0)) AS BIGINT) AS score
        FROM ex e LEFT JOIN wts w2 ON e.bucket = w2.bucket
        WHERE e.slice = 'pool' GROUP BY e.doc_id),
      kept AS (
        SELECT r.doc_id, r.text, r.s0 FROM raw r
        JOIN scored sc ON r.doc_id = sc.doc_id WHERE sc.score > 0),
      ksh AS (
        SELECT doc_id,
               list_distinct([ w5[i] || ' ' || w5[i+1] || ' ' || w5[i+2] ||
                               ' ' || w5[i+3] || ' ' || w5[i+4]
                 for i in range(1, len(w5)-3) ]) AS sh
        FROM (SELECT doc_id, string_split(s0, ' ') AS w5 FROM kept)
        WHERE len(w5) >= 5),
      bsh AS (
        SELECT list_distinct([ w5[i] || ' ' || w5[i+1] || ' ' || w5[i+2] ||
                               ' ' || w5[i+3] || ' ' || w5[i+4]
                 for i in range(1, len(w5)-3) ]) AS sh
        FROM (SELECT string_split(s0, ' ') AS w5 FROM raw
              WHERE substr(md5(text), 1, 1) = '0')
        WHERE len(w5) >= 5),
      bench AS (SELECT DISTINCT unnest(sh) AS shingle FROM bsh),
      contaminated AS (
        SELECT DISTINCT k.doc_id
        FROM (SELECT doc_id, unnest(sh) AS shingle FROM ksh) k
        JOIN bench USING (shingle)),
      clean AS (
        SELECT * FROM kept
        WHERE doc_id NOT IN (SELECT doc_id FROM contaminated)),
      keepers AS (SELECT MIN(doc_id) AS doc_id FROM clean GROUP BY s0),
      uniq AS (SELECT c.* FROM clean c JOIN keepers USING (doc_id)),
      funnel AS (
        SELECT 0 AS stage, 'raw' AS stage_name, COUNT(*) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS n_tokens
        FROM raw JOIN toks USING (doc_id)
        UNION ALL
        SELECT 1, 'quality_kept', COUNT(*), CAST(SUM(tok) AS BIGINT)
        FROM kept JOIN toks USING (doc_id)
        UNION ALL
        SELECT 2, 'decontaminated', COUNT(*), CAST(SUM(tok) AS BIGINT)
        FROM clean JOIN toks USING (doc_id)
        UNION ALL
        SELECT 3, 'deduped', COUNT(*), CAST(SUM(tok) AS BIGINT)
        FROM uniq JOIN toks USING (doc_id))
      SELECT * FROM funnel ORDER BY stage""",
    "text_quality_classifier" -> s"""
      WITH basew AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws,
               CASE WHEN substr(md5(text), 1, 1) = '0' THEN 'pos'
                    WHEN substr(md5(text), 1, 1) = 'f' THEN 'neg'
                    ELSE 'pool' END AS slice
        FROM documents),
      bg AS (
        SELECT doc_id, slice,
               unnest([ws[i] || ' ' || ws[i+1] FOR i IN range(1, len(ws))])
                 AS b
        FROM basew),
      ex AS (
        SELECT doc_id, slice,
               CAST((strpos('0123456789abcdef', substr(md5(b), 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(md5(b), 2, 1)) - 1)
                 AS INT) AS bucket
        FROM bg),
      cnts AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN slice = 'pos' THEN 1 ELSE 0 END) AS BIGINT)
                 AS pc,
               CAST(SUM(CASE WHEN slice = 'neg' THEN 1 ELSE 0 END) AS BIGINT)
                 AS nc
        FROM ex WHERE slice <> 'pool' GROUP BY bucket),
      tot AS (
        SELECT CAST(SUM(pc) AS BIGINT) AS pt, CAST(SUM(nc) AS BIGINT) AS nt
        FROM cnts),
      wts AS (SELECT bucket, pc * nt - nc * pt AS wgt FROM cnts, tot),
      scored AS (
        SELECT e.doc_id, CAST(SUM(COALESCE(w.wgt, 0)) AS BIGINT) AS score,
               COUNT(*) AS n_bigrams
        FROM ex e LEFT JOIN wts w ON e.bucket = w.bucket
        WHERE e.slice = 'pool' GROUP BY e.doc_id)
      SELECT doc_id, score, n_bigrams,
             CAST(CASE WHEN score > 0 THEN 1 ELSE 0 END AS INT) AS keep
      FROM scored ORDER BY doc_id""",
    // word-level blocklist: list semantics (distinct, sorted) mirror the
    // Spark side exactly; kept docs are absent by contract
    "text_blocklist" -> s"""
      WITH w AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws FROM documents),
      h AS (
        SELECT doc_id, CAST(len(ws) AS INT) AS n_words,
               list_sort(list_intersect(list_distinct(ws),
                 [${BlockWords.map(b => s"'$b'").mkString(", ")}])) AS hits
        FROM w)
      SELECT doc_id, n_words, CAST(len(hits) AS INT) AS n_blocked,
             array_to_string(hits, ' ') AS blocked_words
      FROM h WHERE len(hits) > 0 ORDER BY doc_id""",
    "text_c4_filters" -> s"""
      WITH base AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws FROM documents),
      built AS (
        SELECT doc_id,
               list_transform(range(CAST(ceil(len(ws)/6.0) AS INT)), i ->
                 array_to_string(ws[i*6+1 : i*6+6], ' ') ||
                 CASE WHEN (doc_id + i) % 11 = 5 THEN ' javascript'
                      ELSE '' END ||
                 CASE WHEN (doc_id + i) % 4 <> 3 THEN '.' ELSE '' END) AS pl
        FROM base),
      pages AS (
        SELECT doc_id,
               array_to_string(pl, chr(10)) ||
               CASE WHEN doc_id % 29 = 7 THEN chr(10) || 'lorem ipsum.'
                    ELSE '' END ||
               CASE WHEN doc_id % 31 = 5 THEN chr(10) || 'var x = {.'
                    ELSE '' END AS page
        FROM built),
      c4 AS (
        SELECT doc_id,
               string_split(page, chr(10)) AS lines,
               list_filter(string_split(page, chr(10)), l ->
                 regexp_matches(l, '[.!?"]$$')
                 AND len(string_split(l, ' ')) >= 5
                 AND NOT contains(l, 'javascript')) AS kept,
               NOT contains(page, 'lorem ipsum')
                 AND NOT contains(page, '{') AS page_ok
        FROM pages)
      SELECT doc_id,
             CAST(len(lines) AS INT) AS n_lines_raw,
             CAST(len(kept) AS INT) AS n_lines_kept,
             CAST(list_sum(list_transform(kept,
               l -> len(string_split(l, ' ')))) AS BIGINT) AS n_words_kept,
             array_to_string(kept, chr(10)) AS text_clean
      FROM c4
      WHERE page_ok AND len(kept) >= 3
      ORDER BY doc_id""",
    "text_bpe_train" -> bpeTrainOracle(8),
    "text_unigram_train" -> unigramTrainOracle(16),
    "text_unigram_apply" -> unigramApplyOracle(16),
    "text_line_dedup" -> s"""
      WITH base AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws FROM documents),
      built AS (
        SELECT doc_id,
               list_transform(range(CAST(ceil(len(ws)/6.0) AS INT)), i ->
                 array_to_string(ws[i*6+1 : i*6+6], ' ')) AS pl
        FROM base),
      pages AS (
        SELECT doc_id,
               array_to_string(pl, chr(10)) ||
               chr(10) || 'subscribe to our newsletter today' ||
               CASE WHEN doc_id % 2 = 0
                    THEN chr(10) || 'share this article with friends'
                    ELSE '' END ||
               CASE WHEN doc_id % 7 = 3
                    THEN chr(10) || 'all rights reserved worldwide'
                    ELSE '' END ||
               CASE WHEN doc_id % 23 = 11
                    THEN chr(10) || 'visit our partner sites now'
                    ELSE '' END ||
               chr(10) || 'team update number ' || (doc_id % 50) AS page
        FROM built),
      lines AS (
        SELECT doc_id,
               unnest(range(len(string_split(page, chr(10))))) AS pos,
               unnest(string_split(page, chr(10))) AS line
        FROM pages),
      freq AS (
        SELECT line, count(DISTINCT doc_id) AS df FROM lines GROUP BY line),
      kept AS (
        SELECT l.doc_id, l.pos, l.line FROM lines l
        WHERE NOT EXISTS (SELECT 1 FROM freq f
                          WHERE f.line = l.line AND f.df > 15)),
      rebuilt AS (
        SELECT doc_id, count(*) AS n_lines_kept,
               string_agg(line, chr(10) ORDER BY pos) AS text_kept
        FROM kept GROUP BY doc_id)
      SELECT p.doc_id,
             CAST(len(string_split(p.page, chr(10))) AS INT) AS n_lines_raw,
             CAST(coalesce(r.n_lines_kept, 0) AS BIGINT) AS n_lines_kept,
             coalesce(r.text_kept, '') AS text_kept
      FROM pages p LEFT JOIN rebuilt r USING (doc_id)
      ORDER BY p.doc_id""",
    "dedup_url_keep_best" -> raw"""
      WITH t AS (
        SELECT doc_id,
               'HTTPS://Site' || (doc_id % 7) || '.Example.COM:443/page/' ||
               (doc_id % 40) || '?utm_campaign=c' || doc_id ||
               '#frag' || doc_id AS u0,
               len(string_split($NormSql, ' ')) AS n_words
        FROM documents),
      s AS (SELECT doc_id, n_words,
                   regexp_replace(u0, '#.*$$', '') AS u1 FROM t),
      h AS (
        SELECT doc_id, n_words,
               lower(regexp_extract(u1, '^[A-Za-z]+://[^/?#]+')) ||
               regexp_replace(u1, '^[A-Za-z]+://[^/?#]+', '') AS u2
        FROM s),
      p AS (
        SELECT doc_id, n_words,
               regexp_replace(u2, '^(https?://[^/:]+):(?:80|443)/', '\1/')
                 AS u3
        FROM h),
      c AS (
        SELECT doc_id, n_words,
               regexp_replace(regexp_replace(u3,
                 '([?&])utm_[A-Za-z]+=[^&#]*&?', '\1', 'g'),
                 '[?&]+$$', '') AS url_canon
        FROM p),
      r AS (
        SELECT url_canon, doc_id, n_words,
               ROW_NUMBER() OVER (PARTITION BY url_canon
                 ORDER BY n_words DESC, doc_id ASC) AS rn,
               COUNT(*) OVER (PARTITION BY url_canon) AS n_dupes
        FROM c)
      SELECT url_canon, doc_id, CAST(n_words AS INT) AS n_words, n_dupes
      FROM r WHERE rn = 1 ORDER BY url_canon""",
    "sample_hash" -> """
      SELECT COUNT(*) AS n_sampled,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
      FROM documents
      WHERE substr(md5(text), 1, 1) IN ('0', '1')""",
    "sample_stratified" -> """
      SELECT lang, COUNT(*) AS n_kept,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             MIN(doc_id) AS min_doc
      FROM documents
      WHERE substr(md5(text), 1, 2) <
            (CASE WHEN lang = 'en' THEN '40' ELSE 'c0' END)
      GROUP BY lang ORDER BY lang""",
    "sample_split_grouped" -> """
      WITH t AS (
        SELECT *, CASE WHEN substr(md5(source), 1, 4) < 'cccc' THEN 'train'
                       WHEN substr(md5(source), 1, 4) < 'e666' THEN 'val'
                       ELSE 'test' END AS split
        FROM documents)
      SELECT split, COUNT(*) AS n_docs,
             COUNT(DISTINCT source) AS n_sources,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM t GROUP BY split ORDER BY split""",
    "sample_mixture" -> """
      WITH t AS (
        SELECT *, CAST(substr(source, 4) AS INT) // 5 AS grp FROM documents
      )
      SELECT source, COUNT(*) AS n_kept,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             MIN(doc_id) AS min_doc
      FROM t
      WHERE grp = 0 OR substr(md5(text), 1, 2) <
            (CASE grp WHEN 1 THEN '80' WHEN 2 THEN '40' ELSE '20' END)
      GROUP BY source ORDER BY source""",
    "sample_temperature" -> """
      WITH base AS (
        SELECT doc_id, text,
               'd' || CAST(CAST(floor(sqrt(doc_id % 100)) AS INT) AS VARCHAR)
                 AS domain
        FROM documents),
      stats AS (SELECT domain, COUNT(*) AS n_total FROM base GROUP BY 1),
      r AS (
        SELECT domain, n_total,
               sqrt((SELECT MIN(n_total) FROM stats) * 1.0 / n_total) AS rate
        FROM stats),
      kept AS (
        SELECT b.domain, COUNT(*) AS n_kept, MIN(b.doc_id) AS min_doc
        FROM base b JOIN r USING (domain)
        WHERE r.rate >= 1 OR substr(md5(b.text), 1, 6) <
              lpad(lower(to_hex(CAST(floor(r.rate * 16777216) AS BIGINT))),
                   6, '0')
        GROUP BY 1)
      SELECT r.domain, r.n_total, round(r.rate, 6) AS rate,
             CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept, k.min_doc
      FROM r LEFT JOIN kept k USING (domain)
      ORDER BY domain""",
    "text_lm_score" -> s"""
      WITH w AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws FROM documents),
      st AS (
        SELECT doc_id,
               unnest(ws[1:len(ws)-1]) AS w1,
               unnest(ws[2:len(ws)]) AS w2
        FROM w WHERE len(ws) >= 2),
      c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM st GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM st GROUP BY 1)
      SELECT st.doc_id, COUNT(*) AS n_bigrams,
             round(SUM(c12.c12) * 1.0 / SUM(c1.c1), 6) AS lm_score
      FROM st JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
      GROUP BY st.doc_id ORDER BY st.doc_id""",
    "text_lm_buckets" -> s"""
      WITH w AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws FROM documents),
      st AS (
        SELECT doc_id,
               unnest(ws[1:len(ws)-1]) AS w1,
               unnest(ws[2:len(ws)]) AS w2
        FROM w WHERE len(ws) >= 2),
      c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM st GROUP BY 1, 2),
      c1 AS (SELECT w1, COUNT(*) AS c1 FROM st GROUP BY 1),
      sc AS (
        SELECT st.doc_id, COUNT(*) AS n_bigrams,
               SUM(c12.c12) * 1.0 / SUM(c1.c1) AS key
        FROM st JOIN c12 USING (w1, w2) JOIN c1 USING (w1)
        GROUP BY st.doc_id),
      b AS (
        SELECT quantile_disc(key, 0.333333) AS t1,
               quantile_disc(key, 0.666667) AS t2 FROM sc)
      SELECT sc.doc_id, sc.n_bigrams, round(sc.key, 6) AS lm_score,
             CASE WHEN sc.key <= b.t1 THEN 'tail'
                  WHEN sc.key <= b.t2 THEN 'middle'
                  ELSE 'head' END AS bucket,
             sc.key > b.t1 AS kept
      FROM sc, b ORDER BY sc.doc_id""",
    // the arithmetic below mirrors textBm25TopK's column expressions
    // step for step (same association order) — every op is an
    // exactly-rounded IEEE step, so the doubles are bit-identical
    "pipeline_rag" -> s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
               1 + CAST((greatest(len(string_split_regex(trim(text), '\\s+'))
                                    - $ChunkSize, 0)
                         + ${ChunkStride - 1}) // $ChunkStride AS INT)
                 AS nchunks
        FROM documents),
      ch AS (
        SELECT doc_id, unnest(generate_series(0, nchunks - 1)) AS chunk_id, w
        FROM toks),
      cdocs AS (
        SELECT doc_id * $RagKeyMult + chunk_id AS doc_id,
               array_to_string(
                 list_slice(w, chunk_id * $ChunkStride + 1,
                            chunk_id * $ChunkStride + $ChunkSize), ' ') AS text
        FROM ch),
      w AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws FROM cdocs),
      t AS (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS len,
               CAST(len(list_filter(ws, x -> x = 'merge')) AS BIGINT) AS tf0,
               CAST(len(list_filter(ws, x -> x = 'filter')) AS BIGINT) AS tf1,
               CAST(len(list_filter(ws, x -> x = 'spark')) AS BIGINT) AS tf2
        FROM w),
      st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(len) AS BIGINT) AS sumlen,
               CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
               CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
               CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        FROM t),
      sc AS (
        SELECT t.doc_id, t.len AS n_tokens,
          (CAST(st.n - st.df0 AS DOUBLE) + 0.5) / (CAST(st.df0 AS DOUBLE) + 0.5)
            * ((CAST(tf0 AS DOUBLE) * 2.5) / (CAST(tf0 AS DOUBLE)
               + 1.5 * (0.25 + 0.75 * (CAST(t.len AS DOUBLE)
                 / (CAST(st.sumlen AS DOUBLE) / CAST(st.n AS DOUBLE))))))
          + (CAST(st.n - st.df1 AS DOUBLE) + 0.5) / (CAST(st.df1 AS DOUBLE) + 0.5)
            * ((CAST(tf1 AS DOUBLE) * 2.5) / (CAST(tf1 AS DOUBLE)
               + 1.5 * (0.25 + 0.75 * (CAST(t.len AS DOUBLE)
                 / (CAST(st.sumlen AS DOUBLE) / CAST(st.n AS DOUBLE))))))
          + (CAST(st.n - st.df2 AS DOUBLE) + 0.5) / (CAST(st.df2 AS DOUBLE) + 0.5)
            * ((CAST(tf2 AS DOUBLE) * 2.5) / (CAST(tf2 AS DOUBLE)
               + 1.5 * (0.25 + 0.75 * (CAST(t.len AS DOUBLE)
                 / (CAST(st.sumlen AS DOUBLE) / CAST(st.n AS DOUBLE))))))
          AS s
        FROM t, st),
      top AS (
        SELECT CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rnk,
               doc_id, n_tokens, round(s, 6) AS bm25
        FROM (SELECT * FROM sc ORDER BY s DESC, doc_id LIMIT $RagK)),
      cum AS (
        SELECT rnk, doc_id, n_tokens, bm25,
               CAST(SUM(n_tokens) OVER (ORDER BY rnk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_tokens
        FROM top)
      SELECT rnk, doc_id // $RagKeyMult AS src_doc,
             CAST(doc_id % $RagKeyMult AS INT) AS chunk_id,
             n_tokens, cum_tokens, bm25
      FROM cum WHERE cum_tokens <= $RagBudget ORDER BY rnk""",
    // generated over the SAME RagBatch/union-term indexes as the engine
    // side, one score branch per query summing its terms in query order
    // (left-assoc + ⟷ reduceLeft), per-query top-k via rank filter
    "pipeline_rag_batch" -> ragBatchOracleSql,
    "text_bm25_topk" -> s"""
      WITH w AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws FROM documents),
      t AS (
        SELECT doc_id, CAST(len(ws) AS BIGINT) AS len,
               CAST(len(list_filter(ws, x -> x = 'vector')) AS BIGINT) AS tf0,
               CAST(len(list_filter(ws, x -> x = 'customer')) AS BIGINT) AS tf1,
               CAST(len(list_filter(ws, x -> x = 'stream')) AS BIGINT) AS tf2
        FROM w),
      st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(len) AS BIGINT) AS sumlen,
               CAST(SUM(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df0,
               CAST(SUM(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df1,
               CAST(SUM(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df2
        FROM t),
      sc AS (
        SELECT t.doc_id, t.len AS n_tokens,
          (CAST(st.n - st.df0 AS DOUBLE) + 0.5) / (CAST(st.df0 AS DOUBLE) + 0.5)
            * ((CAST(tf0 AS DOUBLE) * 2.5) / (CAST(tf0 AS DOUBLE)
               + 1.5 * (0.25 + 0.75 * (CAST(t.len AS DOUBLE)
                 / (CAST(st.sumlen AS DOUBLE) / CAST(st.n AS DOUBLE))))))
          + (CAST(st.n - st.df1 AS DOUBLE) + 0.5) / (CAST(st.df1 AS DOUBLE) + 0.5)
            * ((CAST(tf1 AS DOUBLE) * 2.5) / (CAST(tf1 AS DOUBLE)
               + 1.5 * (0.25 + 0.75 * (CAST(t.len AS DOUBLE)
                 / (CAST(st.sumlen AS DOUBLE) / CAST(st.n AS DOUBLE))))))
          + (CAST(st.n - st.df2 AS DOUBLE) + 0.5) / (CAST(st.df2 AS DOUBLE) + 0.5)
            * ((CAST(tf2 AS DOUBLE) * 2.5) / (CAST(tf2 AS DOUBLE)
               + 1.5 * (0.25 + 0.75 * (CAST(t.len AS DOUBLE)
                 / (CAST(st.sumlen AS DOUBLE) / CAST(st.n AS DOUBLE))))))
          AS s
        FROM t, st)
      SELECT CAST(row_number() OVER (ORDER BY s DESC, doc_id) AS INT) AS rnk,
             doc_id, n_tokens, round(s, 6) AS bm25
      FROM (SELECT * FROM sc ORDER BY s DESC, doc_id LIMIT 20)
      ORDER BY rnk""",
    "corpus_diff" -> """
      WITH v1 AS (
        SELECT doc_id, md5(text) AS h1,
               CAST(length(text) AS BIGINT) AS len1
        FROM documents WHERE doc_id % 10 <> 9),
      v2 AS (
        SELECT doc_id, md5(t2) AS h2, CAST(length(t2) AS BIGINT) AS len2
        FROM (SELECT doc_id,
                     CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                          ELSE text END AS t2
              FROM documents WHERE doc_id % 10 <> 0)),
      j AS (
        SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id,
               CASE WHEN h1 IS NULL THEN 'added'
                    WHEN h2 IS NULL THEN 'removed'
                    WHEN h1 = h2 THEN 'unchanged'
                    ELSE 'changed' END AS status,
               COALESCE(len1, 0) AS len1, COALESCE(len2, 0) AS len2
        FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      SELECT status, CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc,
             CAST(SUM(len1) AS BIGINT) AS chars_v1,
             CAST(SUM(len2) AS BIGINT) AS chars_v2
      FROM j GROUP BY status ORDER BY status""",
    "text_concentration" -> s"""
      WITH tk AS (
        SELECT doc_id,
               CAST(len(string_split($NormSql, ' ')) AS BIGINT) AS tok
        FROM documents),
      b AS (
        SELECT quantile_disc(tok, 0.1) AS t1, quantile_disc(tok, 0.2) AS t2,
               quantile_disc(tok, 0.3) AS t3, quantile_disc(tok, 0.4) AS t4,
               quantile_disc(tok, 0.5) AS t5, quantile_disc(tok, 0.6) AS t6,
               quantile_disc(tok, 0.7) AS t7, quantile_disc(tok, 0.8) AS t8,
               quantile_disc(tok, 0.9) AS t9
        FROM tk),
      dd AS (
        SELECT CASE WHEN tok <= t1 THEN 0 WHEN tok <= t2 THEN 1
                    WHEN tok <= t3 THEN 2 WHEN tok <= t4 THEN 3
                    WHEN tok <= t5 THEN 4 WHEN tok <= t6 THEN 5
                    WHEN tok <= t7 THEN 6 WHEN tok <= t8 THEN 7
                    WHEN tok <= t9 THEN 8 ELSE 9 END AS decile, tok
        FROM tk, b),
      a AS (
        SELECT CAST(decile AS INT) AS decile, COUNT(*) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS sum_tokens
        FROM dd GROUP BY 1)
      SELECT decile, n_docs, sum_tokens,
             CAST(SUM(sum_tokens) OVER (ORDER BY decile
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
             round(SUM(sum_tokens) OVER (ORDER BY decile
                     ROWS UNBOUNDED PRECEDING) * 1.0 /
                   SUM(sum_tokens) OVER (), 6) AS cum_share
      FROM a ORDER BY decile""",
    "text_vocab_coverage" -> s"""
      WITH w AS (
        SELECT source, unnest(string_split($NormSql, ' ')) AS word
        FROM documents),
      v AS (
        SELECT word FROM (
          SELECT word, COUNT(*) AS n FROM w GROUP BY 1
          ORDER BY n DESC, word LIMIT 100)),
      j AS (
        SELECT w.source, w.word, v.word IS NOT NULL AS cov
        FROM w LEFT JOIN v ON w.word = v.word),
      a AS (
        SELECT source, COUNT(*) AS n_tokens,
               SUM(CASE WHEN cov THEN 1 ELSE 0 END) AS n_covered,
               COUNT(DISTINCT CASE WHEN NOT cov THEN word END)
                 AS n_oov_kinds
        FROM j GROUP BY 1)
      SELECT source, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(n_covered AS BIGINT) AS n_covered,
             CAST(n_oov_kinds AS BIGINT) AS n_oov_kinds,
             round((n_tokens - n_covered) * 1.0 / n_tokens, 6) AS oov_rate
      FROM a ORDER BY source""",
    "pack_sequences" -> s"""
      WITH t AS (
        SELECT source, doc_id,
               CAST(len(string_split($NormSql, ' ')) AS BIGINT) AS tok
        FROM documents
      ), c AS (
        SELECT source, doc_id, tok,
               SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                              ROWS UNBOUNDED PRECEDING) AS cum
        FROM t
      )
      SELECT source, CAST((cum - tok) // 64 AS INT) AS bin_id,
             CAST(COUNT(*) AS INT) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS sum_tokens
      FROM c GROUP BY source, bin_id ORDER BY source, bin_id""",
    "text_gopher_quality" -> s"""
      WITH t AS (
        SELECT doc_id, string_split($NormSql, ' ') AS ws, $NormSql AS norm
        FROM documents
      ), m AS (
        SELECT doc_id,
               CAST(len(ws) AS INT) AS n_words,
               CAST(length(replace(norm, ' ', '')) AS DOUBLE) / len(ws) AS awl,
               CAST(list_sum(list_transform(ws,
                 x -> CASE WHEN x IN ('the','a','is','and','of')
                      THEN 1 ELSE 0 END)) AS INT) AS n_stop
        FROM t
      )
      SELECT doc_id, n_words, awl, n_stop,
             (n_words BETWEEN 10 AND 100000) AS ok_len,
             (awl BETWEEN 2.0 AND 12.0) AS ok_awl,
             (n_stop >= 2) AS ok_stop,
             ((n_words BETWEEN 10 AND 100000)
              AND (awl BETWEEN 2.0 AND 12.0) AND n_stop >= 2) AS keep
      FROM m ORDER BY doc_id""",
    "pack_shards" -> """
      WITH t AS (
        SELECT doc_id, n_chars,
               CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS tok_ws,
               substr(md5(text), 1, 1) AS salt
        FROM documents
      ), r AS (
        SELECT doc_id, n_chars, tok_ws,
               CAST((ROW_NUMBER() OVER (PARTITION BY salt
                                        ORDER BY tok_ws DESC, doc_id)
                     - 1 + strpos('0123456789abcdef', salt) - 1) % 8 AS INT)
                 AS shard
        FROM t
      )
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(tok_ws) AS BIGINT) AS sum_tokens,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars
      FROM r GROUP BY shard ORDER BY shard""",
    // each URI component re-derived by an anchored regex, independent of
    // java.net.URI: a parser that folded the port into host, lowercased,
    // or mis-bounded query/fragment fails the field compare
    "expr_url_parse" -> raw"""
      WITH t AS (
        SELECT doc_id,
               'HTTPS://Site' || (doc_id % 7) || '.Example.COM:443/page/' ||
               (doc_id % 40) || '?utm_campaign=c' || doc_id ||
               '#frag' || doc_id AS u0
        FROM documents)
      SELECT doc_id,
             regexp_extract(u0, '^([A-Za-z]+)://', 1) AS proto,
             regexp_extract(u0, '^[A-Za-z]+://([^/:?#]+)', 1) AS host,
             regexp_extract(u0, '^[A-Za-z]+://[^/?#]+(/[^?#]*)', 1) AS path,
             regexp_extract(u0, '\?([^#]*)', 1) AS query,
             regexp_extract(u0, '#(.*)$$', 1) AS ref,
             regexp_extract(u0, '[?&]utm_campaign=([^&#]*)', 1) AS campaign
      FROM t ORDER BY doc_id""",
    "pack_interleave" -> raw"""
      WITH t AS (
        SELECT doc_id, source, md5('7:' || doc_id) AS k,
               (COALESCE(TRY_CAST(regexp_extract(source, '(\d+)$$', 1)
                  AS INT), 0) % 4) + 1 AS stride
        FROM documents),
      r AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY k, doc_id)
                 AS rnk
        FROM t),
      p AS (SELECT *, CAST(rnk AS BIGINT) * stride AS p FROM r),
      w AS (SELECT * FROM p ORDER BY p, source, rnk LIMIT 200)
      SELECT source, stride, COUNT(*) AS n_window,
             CAST(SUM(doc_id) AS BIGINT) AS sum_doc,
             MIN(p) AS min_p, MAX(p) AS max_p
      FROM w GROUP BY source, stride ORDER BY source""",
    "quality_drift" -> s"""
      WITH ex AS (
        SELECT doc_id % 2 = 0 AS is_a,
               CAST((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1) * 16
                 + (strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1)
                 AS INT) AS bucket
        FROM (SELECT doc_id, unnest(string_split($NormSql, ' ')) AS w
              FROM documents)),
      cnts AS (
        SELECT bucket,
               CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
               CAST(SUM(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS c_b
        FROM ex GROUP BY bucket),
      tot AS (
        SELECT CAST(SUM(c_a) AS BIGINT) AS n_a, CAST(SUM(c_b) AS BIGINT) AS n_b
        FROM cnts)
      SELECT bucket, c_a, c_b,
             CAST(c_a * n_b - c_b * n_a AS BIGINT) AS drift
      FROM cnts, tot
      ORDER BY abs(c_a * n_b - c_b * n_a) DESC, bucket LIMIT 20""",
    // the BPE merge loop replayed move-by-move: one recursion level per
    // MERGE, the pair-rank scan restated as a CASE list-comprehension
    // over the symbol list, leftmost-lowest-rank selection via
    // list_position(list_min) — any wrong pair, wrong position, or wrong
    // rank order lands in a different bin sum and fails the hash gate
    "text_token_budget_bpe" -> s"""
      WITH RECURSIVE t AS (
        SELECT doc_id, source, $NormSql AS s0 FROM documents),
      wd AS (
        SELECT doc_id,
               unnest(range(1, len(string_split(s0, ' ')) + 1)) AS wi,
               unnest(string_split(s0, ' ')) AS word
        FROM t),
      step(doc_id, wi, toks) AS (
        SELECT doc_id, wi,
               [substr(word, CAST(i AS INT), 1) FOR i IN range(1, len(word) + 1)]
        FROM wd
        UNION ALL
        SELECT doc_id, wi,
               toks[1:bp-1] || [toks[bp] || toks[bp+1]] || toks[bp+2:]
        FROM (
          SELECT doc_id, wi, toks,
                 list_position(rks, list_min(rks)) AS bp,
                 list_min(rks) AS best
          FROM (
            SELECT doc_id, wi, toks,
                   [$BpeCaseSql FOR i IN range(1, len(toks))] AS rks
            FROM step) q1) q2
        WHERE best < 1000000),
      fin AS (
        SELECT doc_id, wi, len(toks) AS nt
        FROM step
        WHERE coalesce(list_min([$BpeCaseSql FOR i IN range(1, len(toks))]),
                       1000000) >= 1000000),
      bt AS (
        SELECT doc_id, CAST(SUM(nt) AS BIGINT) AS tok FROM fin
        GROUP BY doc_id),
      binned AS (
        SELECT t.source, t.doc_id, bt.tok,
               SUM(bt.tok) OVER (PARTITION BY t.source ORDER BY t.doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
        FROM bt JOIN t ON bt.doc_id = t.doc_id)
      SELECT source, CAST((cum - tok) // 256 AS INT) AS bin_id,
             CAST(COUNT(*) AS INT) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS sum_tokens,
             MIN(doc_id) AS first_doc
      FROM binned GROUP BY source, bin_id ORDER BY source, bin_id""",
    // the greedy tokenizer replayed move-by-move: one recursion level
    // per TOKEN, a correlated max-length vocab probe per step — any
    // longest-match decision the kernel gets wrong lands in a different
    // bin sum and fails the hash gate
    "text_token_budget" -> s"""
      WITH RECURSIVE v(w, l) AS (SELECT * FROM (VALUES ${
        graft.functions.HashImpls.TokenVocab
          .map(w => s"('$w', ${w.length})").mkString(", ")})),
      t AS (SELECT doc_id, source, $NormSql AS s0 FROM documents),
      step(doc_id, pos, n) AS (
        SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT) FROM t
        UNION ALL
        SELECT st.doc_id,
               st.pos + COALESCE((SELECT MAX(l) FROM v
                                  WHERE substr(t.s0, CAST(st.pos AS INT), l)
                                          = w), 1),
               st.n + 1
        FROM step st JOIN t ON st.doc_id = t.doc_id
        WHERE st.pos <= len(t.s0)),
      toks AS (SELECT doc_id, MAX(n) AS tok FROM step GROUP BY doc_id),
      binned AS (
        SELECT t.source, t.doc_id, toks.tok,
               SUM(toks.tok) OVER (PARTITION BY t.source ORDER BY t.doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM toks JOIN t ON toks.doc_id = t.doc_id)
      SELECT source, CAST((cum - tok) // 256 AS INT) AS bin_id,
             CAST(COUNT(*) AS INT) AS n_docs,
             CAST(SUM(tok) AS BIGINT) AS sum_tokens,
             MIN(doc_id) AS first_doc
      FROM binned GROUP BY source, bin_id ORDER BY source, bin_id""",
    "pack_global_shuffle" -> raw"""
      WITH t AS (
        SELECT doc_id, md5('42:' || doc_id) AS k,
               CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                 AS tok_ws
        FROM documents),
      r AS (
        SELECT doc_id, k, tok_ws,
               CAST((strpos('0123456789abcdef', substr(k, 1, 1)) - 1) // 2
                 AS INT) AS shard
        FROM t),
      o AS (
        SELECT shard, doc_id, k, tok_ws,
               ROW_NUMBER() OVER (PARTITION BY shard ORDER BY k, doc_id)
                 AS rnk
        FROM r)
      SELECT shard, COUNT(*) AS n_docs,
             CAST(SUM(tok_ws) AS BIGINT) AS sum_tokens,
             arg_min(doc_id, rnk) AS first_doc,
             arg_max(doc_id, rnk) AS last_doc,
             CAST(SUM(rnk * doc_id) AS BIGINT) AS order_check,
             MIN(k) AS min_key, MAX(k) AS max_key
      FROM o GROUP BY shard ORDER BY shard""",
    "text_clean" -> """
      SELECT doc_id,
             CAST(length(text) AS INT) AS n_raw,
             CAST(length(trim(regexp_replace(regexp_replace(regexp_replace(
               text,
               'https?://[^\s]+', ' ', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
               '\s+', ' ', 'g'))) AS INT) AS n_clean,
             substr(trim(regexp_replace(regexp_replace(regexp_replace(
               text,
               'https?://[^\s]+', ' ', 'g'),
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', ' ', 'g'),
               '\s+', ' ', 'g')), 1, 40) AS clean_head
      FROM documents ORDER BY doc_id""",
    "text_decontaminate" -> DecontamSql,
    // the bloom tier is exact by construction — one shared oracle IS the claim
    "text_decontaminate_bloom" -> DecontamSql,
    // numerator and divisor are both integers, so the DOUBLE division is
    // one IEEE op — bit-identical across engines, safe to hash-compare
    "text_decontaminate_frac" -> DecontamFracSql,
    // the bloom prefilter tier is exact (no false negatives + residual
    // exact join), so it shares the fraction oracle verbatim
    "text_decontaminate_frac_bloom" -> DecontamFracSql,
    // span excision: positions covered by any matched 5-gram drop, the
    // doc rebuilds from the survivors; only contaminated docs emit
    "text_decontaminate_scrub" -> s"""
      WITH w AS (
        SELECT doc_id, substr(md5(text), 1, 1) AS carve,
               string_split($NormSql, ' ') AS w
        FROM documents),
      tr AS (SELECT doc_id, w FROM w WHERE carve <> '0' AND len(w) >= 5),
      sh AS (
        SELECT doc_id,
               list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2] ||
                               ' ' || w[i+3] || ' ' || w[i+4]
                 for i in range(1, len(w)-3) ]) AS sh
        FROM w WHERE len(w) >= 5),
      bench AS (SELECT DISTINCT unnest(s2.sh) AS shingle
                FROM sh s2 JOIN w USING (doc_id) WHERE w.carve = '0'),
      pos AS (
        SELECT t.doc_id, i,
               t.w[i] || ' ' || t.w[i+1] || ' ' || t.w[i+2] || ' ' ||
               t.w[i+3] || ' ' || t.w[i+4] AS shingle
        FROM tr t, unnest(range(1, len(t.w)-3)) AS u(i)),
      hits AS (SELECT DISTINCT p.doc_id, p.i
               FROM pos p JOIN bench b USING (shingle)),
      cov AS (
        SELECT doc_id,
               list_distinct(flatten(list([i, i+1, i+2, i+3, i+4])))
                 AS cpos
        FROM hits GROUP BY doc_id),
      outp AS (
        SELECT t.doc_id, CAST(len(t.w) AS INT) AS n_words,
               CAST(len(c.cpos) AS INT) AS n_scrubbed,
               coalesce(array_to_string(
                 [ t.w[k] for k in range(1, len(t.w)+1)
                   if NOT list_contains(c.cpos, k) ], ' '), '') AS kept
        FROM tr t JOIN cov c USING (doc_id))
      SELECT doc_id, n_words, n_scrubbed, substr(kept, 1, 60) AS scrub_head
      FROM outp ORDER BY doc_id""",
    "text_repetition" -> s"""
      WITH w AS (
        SELECT doc_id, string_split($NormSql, ' ') AS w FROM documents),
      b AS (
        SELECT doc_id, w,
               [ w[i] || ' ' || w[i+1] for i in range(1, len(w)) ] AS bg
        FROM w)
      SELECT doc_id,
             CAST(len(w) AS INT) AS n_words,
             CAST(len(list_distinct(w)) AS INT) AS n_distinct,
             CASE WHEN len(w) > 0
                  THEN 1.0 - 1.0*len(list_distinct(w))/len(w)
                  ELSE 0.0 END AS dup_ratio,
             CASE WHEN len(w) > 0
                  THEN 1.0*list_max(list_transform(list_distinct(w),
                         x -> len(list_filter(w, y -> y = x))))/len(w)
                  ELSE 0.0 END AS top_word_frac,
             CASE WHEN len(w) >= 2
                  THEN 1.0*list_max(list_transform(list_distinct(bg),
                         x -> len(list_filter(bg, y -> y = x))))/(len(w)-1)
                  ELSE 0.0 END AS top_bigram_frac
      FROM b ORDER BY doc_id""",
    "text_tfidf" -> s"""
      WITH w AS (
        SELECT doc_id, unnest(string_split($NormSql, ' ')) AS word
        FROM documents),
      tf AS (
        SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
      df AS (
        SELECT word, COUNT(DISTINCT doc_id) AS df FROM w GROUP BY word),
      scored AS (
        SELECT tf.doc_id, tf.word, tf.tf, df.df, 1.0*tf.tf/df.df AS score,
               ROW_NUMBER() OVER (PARTITION BY tf.doc_id
                                  ORDER BY 1.0*tf.tf/df.df DESC, tf.word)
                 AS rk
        FROM tf JOIN df USING (word))
      SELECT doc_id, CAST(rk AS INT) AS rk, word, tf, df, score
      FROM scored WHERE rk <= 3 ORDER BY doc_id, rk""",
    "text_vocab" -> s"""
      WITH w AS (
        SELECT doc_id, unnest(string_split($NormSql, ' ')) AS word
        FROM documents)
      SELECT word, COUNT(*) AS n_occ, COUNT(DISTINCT doc_id) AS n_docs
      FROM w GROUP BY word ORDER BY n_occ DESC, word LIMIT 100""",
    "text_pii_redact" -> """
      WITH p AS (
        SELECT doc_id,
               text || ' contact user' || CAST(doc_id AS VARCHAR) ||
                 '@example.com from 10.0.' ||
                 CAST(doc_id % 256 AS VARCHAR) ||
                 '.7 or 555-867-5309' AS planted
        FROM documents)
      SELECT doc_id,
             CAST(len(regexp_extract_all(planted,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT)
               AS n_emails,
             CAST(len(regexp_extract_all(planted,
               '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b')) AS INT) AS n_phones,
             CAST(len(regexp_extract_all(planted,
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INT) AS n_ips,
             right(regexp_replace(regexp_replace(regexp_replace(planted,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
               '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g'),
               '\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g'), 80)
               AS redacted_tail
      FROM p ORDER BY doc_id""",
    "text_ngram_stats" -> s"""
      WITH w AS (
        SELECT string_split($NormSql, ' ') AS w FROM documents),
      bg AS (
        SELECT unnest([ w[i] || ' ' || w[i+1] for i in range(1, len(w)) ])
          AS bigram
        FROM w)
      SELECT bigram, COUNT(*) AS n_occ
      FROM bg GROUP BY bigram ORDER BY n_occ DESC, bigram LIMIT 50""",
    "text_novelty" -> s"""
      WITH sh AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, string_split($NormSql, ' ') AS w FROM documents)
        WHERE len(w) >= 3),
      ex AS (
        SELECT doc_id,
               unnest(list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                 for i in range(1, len(w)-1) ])) AS g
        FROM sh),
      fst AS (SELECT g, MIN(doc_id) AS first_doc FROM ex GROUP BY g)
      SELECT e.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
             round(1.0 * CAST(SUM(CASE WHEN f.first_doc = e.doc_id
                                       THEN 1 ELSE 0 END) AS BIGINT)
                   / COUNT(*), 6) AS novelty
      FROM ex e JOIN fst f USING (g)
      GROUP BY e.doc_id ORDER BY e.doc_id""",
    "text_novelty_curve" -> s"""
      WITH sh AS (
        SELECT doc_id, w FROM (
          SELECT doc_id, string_split($NormSql, ' ') AS w FROM documents)
        WHERE len(w) >= 3),
      mx AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
      ex AS (
        SELECT LEAST(9, CAST(doc_id * 10 // (SELECT n FROM mx) AS INT))
                 AS decile,
               unnest(list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                 for i in range(1, len(w)-1) ])) AS g
        FROM sh),
      fst AS (SELECT g, MIN(decile) AS first_dec FROM ex GROUP BY g),
      occ AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_grams
              FROM ex GROUP BY decile),
      nw AS (SELECT first_dec AS decile, CAST(COUNT(*) AS BIGINT) AS n_new
             FROM fst GROUP BY first_dec)
      SELECT o.decile, o.n_grams, COALESCE(w.n_new, 0) AS n_new,
             round(1.0 * COALESCE(w.n_new, 0) / o.n_grams, 6) AS novelty
      FROM occ o LEFT JOIN nw w USING (decile)
      ORDER BY o.decile""",
    "text_tokens" -> """
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS tok_ws,
             CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS INT) AS tok_bpe
      FROM documents ORDER BY doc_id""",
    "text_chunk" -> s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
               1 + CAST((greatest(len(string_split_regex(trim(text), '\\s+'))
                                    - $ChunkSize, 0)
                         + ${ChunkStride - 1}) // $ChunkStride AS INT)
                 AS nchunks
        FROM documents),
      chunks AS (
        SELECT doc_id, unnest(generate_series(0, nchunks - 1)) AS chunk_id, w
        FROM toks)
      SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
             CAST(len(list_slice(w, chunk_id * $ChunkStride + 1,
                                 chunk_id * $ChunkStride + $ChunkSize))
                  AS INT) AS n_tok,
             md5(array_to_string(
                   list_slice(w, chunk_id * $ChunkStride + 1,
                              chunk_id * $ChunkStride + $ChunkSize), ' '))
               AS chunk_md5
      FROM chunks ORDER BY doc_id, chunk_id""",
    "text_quality" -> s"""
      SELECT doc_id,
             CAST(length(text) AS INT) AS n_chars_calc,
             CASE WHEN length(text) > 0
                  THEN 1.0*len(regexp_extract_all(text, '[^\\w\\s]'))/length(text)
                  ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(string_split($NormSql, ' ')) > 0
                  THEN 1.0*len(list_filter(string_split($NormSql, ' '),
                       x -> list_contains(['the','a','an','and','of','to','in','is','on','for','with'], x)))
                       / len(string_split($NormSql, ' '))
                  ELSE 0.0 END AS stopword_ratio,
             CASE WHEN len(string_split($NormSql, ' ')) > 0
                  THEN 1.0*length(replace($NormSql, ' ', ''))
                       / len(string_split($NormSql, ' '))
                  ELSE 0.0 END AS avg_word_len
      FROM documents ORDER BY doc_id""",
    "text_langid" -> s"""
      SELECT doc_id, lang,
             CASE
               WHEN len(list_filter(string_split($NormSql, ' '),
                      x -> list_contains(['the','a','is','and','of'], x))) >=
                    len(list_filter(string_split($NormSql, ' '),
                      x -> list_contains(['el','la','es','los','una'], x)))
                AND len(list_filter(string_split($NormSql, ' '),
                      x -> list_contains(['the','a','is','and','of'], x))) > 0
               THEN 'en'
               WHEN len(list_filter(string_split($NormSql, ' '),
                      x -> list_contains(['el','la','es','los','una'], x))) >
                    len(list_filter(string_split($NormSql, ' '),
                      x -> list_contains(['the','a','is','and','of'], x)))
               THEN 'es'
               ELSE 'und' END AS lang_pred
      FROM documents ORDER BY doc_id""",
    "text_fingerprint" -> s"""
      SELECT doc_id, md5($NormSql) AS fp_md5
      FROM documents ORDER BY doc_id""",
    "text_fingerprint_native" -> s"""
      SELECT COUNT(*) AS n_docs,
             COUNT(DISTINCT norm) AS n_texts,
             TRUE AS roll_injective,
             TRUE AS sim_deterministic
      FROM (SELECT $NormSql AS norm FROM documents)"""
  ).map { case (k, v) => k -> v.stripMargin.trim }
}
