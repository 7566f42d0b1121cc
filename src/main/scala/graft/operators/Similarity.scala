package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search and sub-quadratic similarity joins
  * over the `embeddings` table (Array[Float] column) — beyond the reference
  * surface (SURVEY.md §7.1 M7).
  *
  * Three tiers:
  *  - [[bruteTopK]]: exact cosine top-k, query-batch × corpus join. The
  *    correctness baseline (oracle-checked). At scale this is the pattern
  *    for a *small* query batch against a broadcast-friendly corpus slice;
  *    cost is |Q|·|C|.
  *  - [[ivfTopKWithProbes]]: real IVF with a **build/query split** — the
  *    index (spherical-k-means centroids + the corpus stored PARTITIONED BY
  *    cell id) is materialized ONCE by [[buildIvfIndex]] and cached on disk;
  *    queries only read it, probe their `nprobe` nearest cells, and the
  *    probed-cell filter reaches the scan as a partition filter (partition
  *    pruning, asserted in PlanSpec). Cuts the scanned corpus by
  *    ~cells/nprobe; the 100 TB path.
  *  - [[embeddingThresholdPairs]]: EXACT cosine-threshold self-join ("all
  *    pairs with cos ≥ t") that prunes whole cell pairs with a spherical-cap
  *    bound before doing any pairwise work — the embedding analog of the
  *    text tier's MinHash-LSH, but with recall 1 by construction (see the
  *    method doc for why LSH banding cannot meet an exact-oracle contract).
  *
  * Index lifecycle: the index directory is keyed by (dataset dir, cell
  * count, layout version) under a scratch root taken from
  * `spark.graft.scratch` / `SPARK_GRAFT_SCRATCH` (default `target/scratch`),
  * and guarded by a `_BUILT` marker — first use builds, every later use
  * (any query, any probe width, the threshold join) reads the same layout.
  * At cluster scale this is the "index once, query many" contract of any
  * vector store; locally the spec asserts the query path never rewrites it.
  *
  * K-means design notes:
  *  - Assignment is SHUFFLE-FREE: centroids are k×dim (driver-sized by
  *    construction, the same contract as any k-means implementation), so
  *    each Lloyd iteration embeds them as literals and computes a row-local
  *    argmax over the k cosines inside whole-stage codegen — a map-only
  *    pass over the corpus, no crossJoin/window.
  *  - The update step is one partial-aggregated groupBy of k·dim cells;
  *    dimension sums are accumulated in DECIMAL so centroid values (and
  *    therefore cell assignments, recall, and test results) are exactly
  *    deterministic across runs and partitionings.
  *  - A cell that loses all members during an iteration keeps its previous
  *    centroid (carry-forward), so the cell count never silently shrinks.
  *  - Init is deterministic: the k lowest vec_ids.
  */
object Similarity {

  private val TopK = 5
  private val NQueries = 10
  private val NProbe = 2
  val NCells = 16
  private val LloydIters = 4

  /** Fixture-scaled threshold for the oracle-checked threshold join. The
    * real near-dup setting is ~0.9; this synthetic corpus is unstructured
    * (best pair cos ≈ 0.51, nearest pair-cos to 0.4 is 1.2e-4 away — no
    * engine-boundary ambiguity), so 0.4 is the smallest round threshold
    * that yields a non-trivial verified pair set.
    */
  val CosThreshold = 0.4

  private def indexKey(d: String): String =
    s"ivf_v1_${NCells}_${graft.Scratch.sanitize(d)}_" +
      graft.Scratch.fingerprint(Tables.path(d, "embeddings"))

  /** On-disk IVF index location for a dataset dir (layout-versioned,
    * under the [[graft.Scratch]] root).
    */
  def indexDir(s: SparkSession, d: String): String =
    s"${graft.Scratch.root(s)}/${indexKey(d)}"

  /** centroids = (cell id, centroid vector, angular radius in radians —
    * max angle of any member to its centroid, the exact cap bound used by
    * [[prunedCellPairs]]); corpusPath = parquet partitioned by `cell`.
    */
  final case class IvfIndex(
      centroids: Seq[(Int, Seq[Double], Double)], corpusPath: String)

  private def emb(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))

  /** Exact brute-force cosine top-k for the first NQueries vectors. */
  private def bruteTopK(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d).cache()
    val q = e.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val scored = q.crossJoin(e.select(col("vec_id"), col("v")))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        round(GraftFunctions.cosine_sim(col("qv"), col("v")), 6).as("cos"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    scored.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("qid"), col("rnk"), col("vec_id"), col("cos"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** Ceiling for the literal-argmax assignment path: [[assignExpr]] embeds
    * k×dim centroid doubles in the plan, so plan size and codegen grow
    * linearly in k·dim — fine at the default k=16, hostile at the k≈1000s
    * a 100 TB IVF wants. Above this, [[assignCells]] switches to the
    * broadcast-join argmax (one partial-aggregated shuffle of n rows,
    * centroids broadcast as data instead of code).
    */
  val AssignLiteralMaxK = 32

  /** Row-local nearest-centroid assignment: argmax over k cosine scores
    * computed against centroid literals — no join, no shuffle, codegen'd.
    * Ties break to the smallest cell id (via the negated-cell struct sort).
    * Only used for k ≤ [[AssignLiteralMaxK]]; see [[assignCells]].
    */
  private def assignExpr(cents: Seq[(Int, Seq[Double])], v: Column): Column = {
    val scored = cents.map { case (cell, cv) =>
      struct(GraftFunctions.cosine_sim(v, typedLit(cv)).as("ccos"),
             lit(-cell).as("negcell"))
    }
    (-array_max(array(scored: _*)).getField("negcell")).cast(IntegerType)
  }

  private[graft] def assignByLiteral(
      e: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame =
    e.select(col("vec_id"), col("v"), assignExpr(cents, col("v")).as("cell"))

  /** Broadcast-join argmax assignment for large k: centroids travel as a
    * broadcast relation (data, not plan literals), each corpus row fans
    * out to k scored rows INSIDE its partition, and a map-side partial
    * max(struct) collapses them back before the single vec_id shuffle —
    * net cost one shuffle of n (vec_id, v, cell) rows regardless of k.
    * The (ccos, negcell) struct ordering reproduces [[assignExpr]]'s
    * smallest-cell tie-break exactly, and the cosine kernel is the same,
    * so both paths yield identical assignments (spec-asserted at k=64).
    */
  private[graft] def assignByBroadcast(
      e: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame = {
    val s = e.sparkSession
    val centsDf = s.createDataFrame(cents.map(c => (c._1, c._2)))
      .toDF("cell", "cv")
    e.crossJoin(broadcast(centsDf))
      .select(col("vec_id"), col("v"),
        struct(GraftFunctions.cosine_sim(col("v"), col("cv")).as("ccos"),
               (-col("cell")).as("negcell")).as("sc"))
      .groupBy(col("vec_id"))
      .agg(max(col("sc")).as("m"), first(col("v")).as("v"))
      .select(col("vec_id"), col("v"),
        (-col("m.negcell")).cast(IntegerType).as("cell"))
  }

  /** Nearest-centroid assignment, dispatching on k (see
    * [[AssignLiteralMaxK]]). Returns (vec_id, v, cell).
    */
  def assignCells(e: DataFrame, cents: Seq[(Int, Seq[Double])]): DataFrame =
    if (cents.size <= AssignLiteralMaxK) assignByLiteral(e, cents)
    else assignByBroadcast(e, cents)

  /** Spherical k-means centroids via Lloyd's iterations, distributed:
    * map-only assignment (see [[assignExpr]]) + one aggregation per
    * iteration. Only the k×dim centroid table ever reaches the driver.
    * Cells that end an iteration empty keep their previous centroid, so
    * the result always has exactly k entries.
    */
  def kmeansCentroids(e: DataFrame, k: Int, iters: Int): Seq[(Int, Seq[Double])] = {
    var cents: Seq[(Int, Seq[Double])] = e.orderBy(col("vec_id")).limit(k)
      .collect()
      .zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](1)) }
      .toSeq
    for (_ <- 1 to iters) {
      val next = assignCells(e, cents)
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(col("x").cast(DecimalType(30, 16))) / count(lit(1)))
          .cast(DoubleType).as("cx"))
        .collect()
      val byCell = next.groupBy(_.getInt(0)).map { case (cell, rows) =>
        (cell, rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq)
      }
      cents = cents.map { case (cell, prev) => (cell, byCell.getOrElse(cell, prev)) }
    }
    cents
  }

  /** Build (or reuse) the on-disk IVF index for a dataset: learn centroids,
    * write the corpus partitioned by cell, measure per-cell angular radii,
    * persist centroids+radii. Idempotent and cached via [[graft.Scratch]]:
    * on a hit the build is skipped entirely and only the small centroid
    * table is read back.
    */
  def buildIvfIndex(s: SparkSession, d: String): IvfIndex = {
    val dir = graft.Scratch.ensure(s, indexKey(d)) { dir =>
      val corpusPath = s"$dir/corpus"
      val e = emb(s, d).cache()
      val cents = kmeansCentroids(e, NCells, LloydIters)
      assignCells(e, cents)
        .write.mode("overwrite").partitionBy("cell").parquet(corpusPath)
      // exact per-cell cap radius: max angle(member, own centroid) — one
      // map-only pass over the just-written corpus + a k-sized aggregate
      val centArr = typedLit(cents.map(_._2))
      val radii = s.read.parquet(corpusPath)
        .select(col("cell"),
          acos(least(lit(1.0), greatest(lit(-1.0),
            GraftFunctions.cosine_sim(col("v"), element_at(centArr, col("cell") + 1)))))
            .as("ang"))
        .groupBy(col("cell")).agg(max(col("ang")).as("radius"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      e.unpersist()
      val withR = cents.map { case (c, cv) => (c, cv, radii.getOrElse(c, 0.0)) }
      s.createDataFrame(withR).toDF("cell", "cv", "radius")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/centroids")
    }
    val corpusPath = s"$dir/corpus"
    val centsPath = s"$dir/centroids"
    val cents = s.read.parquet(centsPath)
      .collect().map(r => (r.getInt(0), r.getSeq[Double](1), r.getDouble(2)))
      .sortBy(_._1).toSeq
    IvfIndex(cents, corpusPath)
  }

  /** IVF top-k with a configurable probe width (public so the spec can
    * verify recall == 1 at nprobe = NCells and monotonicity below it).
    * Pure QUERY path: reads the prebuilt index, never writes.
    */
  def ivfTopKWithProbes(s: SparkSession, d: String, nprobe: Int): DataFrame = {
    val idx = buildIvfIndex(s, d)

    // coarse quantization: nprobe nearest cells per query
    val centsDf = s.createDataFrame(idx.centroids.map(c => (c._1, c._2)))
      .toDF("cell", "cv")
    val q = emb(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val wq = Window.partitionBy(col("qid")).orderBy(col("ccos").desc, col("cell"))
    val probes = q.crossJoin(broadcast(centsDf))
      .select(col("qid"), col("qv"), col("cell"),
        GraftFunctions.cosine_sim(col("qv"), col("cv")).as("ccos"))
      .withColumn("crnk", row_number().over(wq))
      .filter(col("crnk") <= nprobe)
      .select(col("qid"), col("qv"), col("cell"))

    // partition pruning: restrict the indexed scan to the union of probed
    // cells (driver-side metadata decision, k-sized) — the isin predicate
    // lands in the scan's PartitionFilters
    val probedCells = probes.select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted
    val corpus = s.read.parquet(idx.corpusPath)
      .filter(col("cell").isin(probedCells.toIndexedSeq.map(_.asInstanceOf[Any]): _*))

    // fine ranking inside probed cells only
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    probes.join(corpus, Seq("cell"))
      .filter(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), col("cell"),
        round(GraftFunctions.cosine_sim(col("qv"), col("v")), 6).as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= TopK)
      .select(col("qid"), col("rnk"), col("vec_id"), col("cell"), col("cos"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** In-row recall gate for the approximate tiers (the sketch rows'
    * error-band-boolean pattern): the approximate result's recall@k against
    * the exact brute-force ranking — computed in the SAME job — is compared
    * to a literal floor, and the row emits `(n_queries, k, recall_ok)`. The
    * DuckDB oracle reproduces n_queries/k from the data and asserts
    * `recall_ok` literally TRUE, so the approximate rows are hash-gated
    * like every other row while staying approximate by contract: the gate
    * pins the CONTRACT (recall ≥ floor at the production operating point),
    * not the exact ranking, which the exact siblings
    * ([[ivfFullProbe]]/[[pqFullRerank]]) already pin row-for-row.
    */
  private def recallGate(approx: DataFrame, exact: DataFrame,
                         floor: Double): DataFrame =
    exact.select(col("qid"), col("vec_id"))
      .join(approx.select(col("qid"), col("vec_id"), lit(1).as("hit")),
        Seq("qid", "vec_id"), "left")
      .agg(countDistinct(col("qid")).as("n_queries"),
           (sum(coalesce(col("hit"), lit(0))) / count(lit(1))).as("recall"))
      .select(col("n_queries"), lit(TopK).as("k"),
        (col("recall") >= lit(floor)).as("recall_ok"))

  /** Floors for [[recallGate]]. Measured recall@5 on the deterministic
    * fixtures (decimal-summed k-means makes them exactly reproducible):
    * IVF nprobe=2 = 0.84 / 0.80 / 0.88 and PQ at the scaled shortlist =
    * 0.76 / 0.84 / 0.88 across sf0.001/0.01/0.1. Floors sit at 0.6 — far
    * enough below every operating point that a different fixture SF can't
    * flake the gate, far enough above chance (TopK/corpus ≤ 0.01) that a
    * broken index can't pass it.
    */
  private val IvfRecallFloor = 0.6
  private val PqRecallFloor = 0.6

  private def ivfTopK(s: SparkSession, d: String): DataFrame =
    recallGate(ivfTopKWithProbes(s, d, NProbe), bruteTopK(s, d), IvfRecallFloor)

  /** IVF at nprobe = NCells: every cell is probed, so recall is 1 BY
    * CONSTRUCTION and the result must equal the brute-force oracle
    * row-for-row (same rounding, same vec_id tie-break). This is the
    * driver-gate row that exercises the full IVF read path — centroid
    * probe ranking, partition-pruned indexed scan, fine ranking — against
    * a DuckDB oracle; the production nprobe=2 shape stays benchmarked as
    * `ann_ivf_topk` and spec-covered (recall monotonicity) in
    * ExtensionsSpec. The `cell` column is dropped: it comes from the
    * learned index, which the oracle can't reproduce (and doesn't need —
    * with all cells probed it doesn't affect the ranking).
    */
  private def ivfFullProbe(s: SparkSession, d: String): DataFrame =
    ivfTopKWithProbes(s, d, NCells)
      .select(col("qid"), col("rnk"), col("vec_id"), col("cos"))

  // -- product quantization: compressed codes + ADC ranking ----------------

  /** PQ geometry: m subspaces × ksub codes. At dim 64 this stores 8
    * one-byte codes per vector instead of 64 doubles — 64× compression —
    * which is what lets a 100 TB embedding corpus's *rank signal* live in
    * executor memory while the full vectors stay on disk for re-ranking.
    */
  val PqM = 8
  val PqKsub = 16
  private val PqShortlist = 50

  private def pqKey(d: String): String =
    s"pq_v1_${PqM}x${PqKsub}_${graft.Scratch.sanitize(d)}_" +
      graft.Scratch.fingerprint(Tables.path(d, "embeddings"))

  /** Unit-normalized embeddings: PQ is trained and encoded on the unit
    * sphere so a sum of per-subspace dot products IS the (approximate)
    * cosine — without this, corpus-norm variance silently reorders the ADC
    * shortlist. Division is IEEE-exact, so normalization is deterministic.
    */
  private def embUnit(s: SparkSession, d: String): DataFrame = {
    val nrm = sqrt(GraftFunctions.dot_product(col("v"), col("v")))
    // zero-norm guard: an all-zero embedding divided by its norm is a NaN
    // vector, and NaNs silently poison codebook training and ADC argmax
    // ordering — map it to the zero vector instead (cosine 0 to anything,
    // consistent with HashImpls.cosine's zero-norm convention)
    emb(s, d).select(col("vec_id"),
      transform(col("v"),
        x => when(nrm > 0, x / nrm).otherwise(lit(0.0))).as("v"))
  }

  /** Build (or reuse) the PQ index: per-subspace codebooks learned with
    * the same deterministic Lloyd machinery as IVF ([[kmeansCentroids]]
    * on the sub-vector slices), then a single map-only encode pass — the
    * per-subspace argmax is the [[assignExpr]] literal form, so encoding
    * is shuffle-free and codegen'd. Persists `codes` (vec_id → m small
    * ints) and `books` (m × ksub sub-centroids) under a fingerprinted
    * [[graft.Scratch]] key. (Product quantization per Jégou et al.,
    * TPAMI 2011 — public method, independent implementation.)
    */
  def buildPqIndex(s: SparkSession, d: String)
      : (Seq[(Int, Int, Seq[Double])], String) = {
    val dir = graft.Scratch.ensure(s, pqKey(d)) { tmp =>
      val e = embUnit(s, d).cache()
      val dim = e.select(size(col("v"))).head().getInt(0)
      require(dim % PqM == 0, s"dim $dim not divisible by PqM=$PqM")
      val subDim = dim / PqM
      val books: Seq[(Int, Int, Seq[Double])] = (0 until PqM).flatMap { m =>
        val sub = e.select(col("vec_id"),
          slice(col("v"), m * subDim + 1, subDim).as("v"))
        kmeansCentroids(sub, PqKsub, LloydIters)
          .map { case (c, cv) => (m, c, cv) }
      }
      val codeCols = (0 until PqM).map { m =>
        val cents = books.filter(_._1 == m).map(b => (b._2, b._3))
        assignExpr(cents, slice(col("v"), m * subDim + 1, subDim))
      }
      e.select(col("vec_id"), array(codeCols: _*).as("codes"))
        .write.mode("overwrite").parquet(s"$tmp/codes")
      s.createDataFrame(books).toDF("sub", "code", "cv")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/books")
      e.unpersist(blocking = true): Unit
    }
    val books = s.read.parquet(s"$dir/books").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2))).toSeq
      .sortBy(b => (b._1, b._2))
    (books, s"$dir/codes")
  }

  /** PQ top-k by asymmetric distance computation (ADC) + exact re-rank.
    * The per-(query, subspace, code) partial dots — |Q|·m·ksub rows, KBs —
    * are computed distributed and BROADCAST into the scoring join; the
    * corpus side touches only the 8-int code rows (posexplode → broadcast
    * join → partial-aggregated sum keyed (qid, vec_id)), never the full
    * vectors. Only the ADC shortlist (PqShortlist per query) joins back to
    * the stored vectors for the exact cosine re-rank — at 100 TB that is
    * the difference between scanning 8 bytes/vector and 512.
    */
  /** Production PQ row. The shortlist scales as max(50, n/10): with a
    * FIXED codebook budget (m×ksub = 8×16) the ADC rank noise admits a
    * corpus-proportional number of impostors above a true neighbor, so a
    * constant shortlist silently loses recall as the corpus grows
    * (measured recall@5 at shortlist 50: 0.76 at n=500 but 0.50 at
    * n=2000; at n/10 it holds 0.76/0.84/0.88 across the fixtures). A
    * production system turns the same dial the other way too — scale the
    * codebook with the corpus and keep the shortlist near-constant;
    * either way the exact re-rank stays a user-budgeted linear fraction,
    * and the in-row recall gate is what catches the drift.
    */
  def pqTopK(s: SparkSession, d: String): DataFrame = {
    val (_, codesPath) = buildPqIndex(s, d)
    val n = s.read.parquet(codesPath).count()
    pqTopKWithShortlist(s, d, math.max(PqShortlist, (n / 10).toInt))
  }

  private def pqTopKGated(s: SparkSession, d: String): DataFrame =
    recallGate(pqTopK(s, d), bruteTopK(s, d), PqRecallFloor)

  /** PQ top-k with a configurable shortlist width (public so the spec can
    * exercise it and so [[pqFullRerank]] can set shortlist = corpus size).
    */
  def pqTopKWithShortlist(s: SparkSession, d: String, shortlistN: Int): DataFrame = {
    val (books, codesPath) = buildPqIndex(s, d)
    val subDim = books.head._3.size
    val booksDf = s.createDataFrame(books).toDF("sub", "code", "cv")
    val qn = embUnit(s, d).filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val tables = qn.crossJoin(broadcast(booksDf))
      .select(col("qid"), col("sub"), col("code"),
        GraftFunctions.dot_product(
          slice(col("qv"), col("sub") * subDim + 1, lit(subDim)),
          col("cv")).as("pdot"))
    val scored = s.read.parquet(codesPath)
      .select(col("vec_id"), posexplode(col("codes")).as(Seq("sub", "code")))
      .join(broadcast(tables), Seq("sub", "code"))
      .filter(col("qid") =!= col("vec_id"))
      .groupBy(col("qid"), col("vec_id"))
      .agg(sum(col("pdot")).as("adc"))
    val ws = Window.partitionBy(col("qid")).orderBy(col("adc").desc, col("vec_id"))
    val shortlist = scored.withColumn("srnk", row_number().over(ws))
      .filter(col("srnk") <= shortlistN)
      .select(col("qid"), col("vec_id"))
    val wf = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))
    shortlist
      .join(emb(s, d), Seq("vec_id"))
      .join(emb(s, d).select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
      .select(col("qid"), col("vec_id"),
        round(GraftFunctions.cosine_sim(col("qv"), col("v")), 6).as("cos"))
      .withColumn("rnk", row_number().over(wf))
      .filter(col("rnk") <= TopK)
      .select(col("qid"), col("rnk"), col("vec_id"), col("cos"))
      .orderBy(col("qid"), col("rnk"))
  }

  /** PQ with shortlist = corpus size: the ADC stage scores every candidate
    * (all vec_id ≠ qid carry codes), the shortlist keeps them all, and the
    * exact-cosine re-rank therefore ranks the FULL candidate set — so the
    * result equals the brute-force oracle BY CONSTRUCTION (same rounding,
    * same vec_id tie-break), independent of ADC quantization quality. This
    * is the driver-gate row that exercises the whole PQ path end-to-end —
    * codebook build, encode, broadcast ADC tables, code-join scoring,
    * shortlist window, exact re-rank — against a DuckDB oracle; the
    * production shortlist-50 shape stays benchmarked as `ann_pq_topk` and
    * recall/exactness-spec-covered in ExtensionsSpec.
    */
  private def pqFullRerank(s: SparkSession, d: String): DataFrame =
    pqTopKWithShortlist(s, d, Int.MaxValue)

  // -- exact cosine-threshold self-join with cell-pair cap pruning ---------

  /** Cell pairs that can possibly contain a pair with cos ≥ t, by the
    * spherical-cap bound: for a ∈ cell i, b ∈ cell j,
    *   angle(a,b) ≥ angle(c_i,c_j) − r_i − r_j
    * (spherical triangle inequality), so if that lower bound exceeds
    * acos(t) the whole cell pair is provably empty and is dropped before
    * any pairwise work. Driver-side on k² metadata; returns (kept pairs
    * with i ≤ j, total pair count).
    */
  def prunedCellPairs(cents: Seq[(Int, Seq[Double], Double)], t: Double)
      : (Seq[(Int, Int)], Int) = {
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.iterator.zip(b.iterator).map { case (x, y) => x * y }.sum
    val norms = cents.map { case (i, cv, _) => i -> math.sqrt(dot(cv, cv)) }.toMap
    val maxAngle = math.acos(t)
    val judged = for {
      (i, ci, ri) <- cents
      (j, cj, rj) <- cents if i <= j
    } yield {
      val cosij = math.max(-1.0, math.min(1.0,
        dot(ci, cj) / (norms(i) * norms(j))))
      val lower = math.max(0.0, math.acos(cosij) - ri - rj)
      ((i, j), lower <= maxAngle)
    }
    (judged.collect { case (p, true) => p }, judged.size)
  }

  /** EXACT "all pairs with cos ≥ t" over the corpus — the embedding
    * dedup/near-dup threshold operator, recall 1 by construction.
    *
    * Why cap pruning instead of random-hyperplane LSH banding: an LSH band
    * scheme has recall < 1 for any finite signature (P[miss] > 0 for every
    * true pair), and at thresholds far below ~0.9 the sign-bit collision
    * gap (p = 1 − θ/π: 0.63 at t=0.4 vs 0.5 for orthogonal pairs) is so
    * small that band parameters yielding recall ≈ 1 admit ~all n² pairs as
    * candidates anyway. The cap bound is exact at every threshold, costs
    * one k² driver-side matrix, and prunes in proportion to how clustered
    * the corpus actually is — on planted clusters most cell pairs drop
    * (spec-asserted); on this deliberately unstructured fixture radii are
    * wide and few pairs prune, which is the correct answer, because exact
    * threshold join on unstructured vectors is Θ(n²) for ANY algorithm.
    *
    * Execution shape (same scale story as [[Dedup]]'s block join): the
    * surviving (bi, bj) cell-pair keys are broadcast, each corpus cell is
    * replicated once per surviving pair it participates in, and the join is
    * a composite equi-join — no CartesianProduct, no skew, work spread over
    * |kept pairs| evenly-sized tasks. Each unordered vector pair is owned
    * by exactly one cell pair, so no distinct is needed.
    */
  def embeddingThresholdPairs(s: SparkSession, d: String, t: Double): DataFrame = {
    val idx = buildIvfIndex(s, d)
    val (kept, _) = prunedCellPairs(idx.centroids, t)
    val pairsDf = broadcast(s.createDataFrame(kept).toDF("bi", "bj"))
    val corpus = s.read.parquet(idx.corpusPath) // vec_id, v, cell
    val left = corpus.join(pairsDf, col("cell") === col("bi"))
      .select(col("bi"), col("bj"), col("vec_id").as("ida"), col("v").as("va"))
    val right = corpus.join(pairsDf, col("cell") === col("bj"))
      .select(col("bi").as("ri"), col("bj").as("rj"),
              col("vec_id").as("idb"), col("v").as("vb"))
    left.join(right, col("bi") === col("ri") && col("bj") === col("rj"))
      // diagonal cell pairs see both orderings of a vector pair
      .filter(col("bi") =!= col("bj") || col("ida") < col("idb"))
      .filter(GraftFunctions.cosine_sim(col("va"), col("vb")) >= t)
      .select(least(col("ida"), col("idb")).as("vec_a"),
              greatest(col("ida"), col("idb")).as("vec_b"),
              round(GraftFunctions.cosine_sim(col("va"), col("vb")), 6).as("cos"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  private def embeddingThreshold(s: SparkSession, d: String): DataFrame =
    embeddingThresholdPairs(s, d, CosThreshold)

  // -- approximate high-threshold near-dup: random-hyperplane LSH ----------

  /** Operating point of the approximate tier: real near-dup dedup runs at
    * cos ≥ ~0.9, where the sign-bit collision probability gap is wide
    * (p = 1 − θ/π ≈ 0.86 for a true pair vs 0.5 for an orthogonal one) and
    * banding is cheap AND accurate — the regime the exact cap-pruned join's
    * scaladoc identifies as LSH's home turf (and where ITS pruning
    * honestly degenerates on unstructured corpora).
    */
  val LshThreshold = 0.9
  private val LshBands = 16
  private val LshRows = 12
  private val LshSeed = 0x9e3779b97f4a7c15L
  /** Planted near-dup copies get vec_id + this offset. */
  val LshCopyOffset = 1000000L

  /** The fixture corpus is unstructured (max pair cos ≈ 0.51 — no pair
    * clears 0.9), so the oracle-checked corpus PLANTS a near-duplicate per
    * vector: copy = 0.9·v + 0.1·reverse(v), which lands at cos(v, copy) ≈
    * 0.99 for random v while cross-pairs stay far below threshold. The
    * derivation is elementwise SQL (same IEEE ops in DuckDB), so the
    * oracle recomputes the identical corpus and the EXACT threshold pairs
    * over it — the LSH tier must find every one (recall here: per-pair
    * miss ≈ (1−p^12)^16 < 1e-6 at cos 0.99) and exact-cosine-verify keeps
    * precision 1.
    */
  def lshCorpus(s: SparkSession, d: String): DataFrame = {
    val e = emb(s, d)
    val copies = e.select((col("vec_id") + lit(LshCopyOffset)).as("vec_id"),
      zip_with(col("v"), reverse(col("v")),
        (a, b) => a * lit(0.9) + b * lit(0.1)).as("v"))
    e.unionByName(copies)
  }

  /** Candidate pairs from the band-bucket self-join — public so the spec
    * can assert |candidates| ≪ n(n−1)/2. Shape at 100 TB: signatures are
    * `bands` longs per vector (the hyperplane matrix lives per-executor,
    * see [[graft.functions.HashImpls.hyperplaneBands]]); the join shuffles
    * bands·n skinny rows on (band, key) and does Σ|bucket|² work — the
    * same sub-quadratic banding shape as the MinHash text tier.
    */
  def hyperplaneCandidates(corpus: DataFrame): DataFrame = {
    val bandRows = corpus.select(col("vec_id"),
      posexplode(GraftFunctions.hyperplane_bands(
        col("v"), LshBands, LshRows, LshSeed)).as(Seq("band", "bk")))
    bandRows.select(col("vec_id").as("vec_a"), col("band"), col("bk"))
      .join(bandRows.select(col("vec_id").as("vec_b"), col("band"), col("bk")),
        Seq("band", "bk"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b")).distinct()
  }

  /** [[hyperplaneLshPairs]] without the presentation sort — the verdict
    * pipeline feeds these pairs straight into connected components, where
    * a global sort would be a pure range-partition exchange tax.
    */
  private def hyperplaneLshPairsUnsorted(corpus: DataFrame, t: Double): DataFrame =
    hyperplaneCandidates(corpus)
      .join(corpus.select(col("vec_id").as("vec_a"), col("v").as("va")), Seq("vec_a"))
      .join(corpus.select(col("vec_id").as("vec_b"), col("v").as("vb")), Seq("vec_b"))
      .filter(GraftFunctions.cosine_sim(col("va"), col("vb")) >= t)
      .select(col("vec_a"), col("vec_b"),
        round(GraftFunctions.cosine_sim(col("va"), col("vb")), 6).as("cos"))

  /** Approximate threshold join: banded candidates, exact-cosine verified
    * (precision 1 by construction; recall < 1 by banding, quantified in
    * the scaladoc above and spec-asserted on the planted geometry).
    */
  def hyperplaneLshPairs(corpus: DataFrame, t: Double): DataFrame =
    hyperplaneLshPairsUnsorted(corpus, t)
      .orderBy(col("vec_a"), col("vec_b"))

  private def dedupEmbeddingLsh(s: SparkSession, d: String): DataFrame = {
    hyperplaneLshPairs(lshCorpus(s, d), LshThreshold)
  }

  /** Exact-duplicate collapse key: md5 of the vector's string form
    * (shortest-roundtrip rendering — distinct bit patterns never collide
    * textually; a false merge needs a 2^-128 digest collision). Zero-norm
    * and NaN-containing vectors are singleton-keyed by id instead — each
    * stays its own group (ADVICE r15): identical ZERO vectors never
    * verify as pairs (cosine() maps zero-norm to 0.0), so a digest merge
    * would diverge from the uncollapsed pipeline; NaN vectors are kept
    * out to confine the equivalence argument to the cos-exactly-1 case.
    * Zero norm is detected by the SAME left-to-right Σx² double
    * accumulation the cosine kernel runs, so the exclusion matches the
    * verify kernel exactly — including inputs whose tiny elements square
    * into double underflow (|x| < ~1e-161; impossible for float-derived
    * fixture data, reachable through the public corpus-generic API, a
    * review catch). Shared by [[semanticDedupVerdicts]] and
    * [[pipelineSemdedup]].
    */
  private def vecCollapseKey(vec: Column, id: Column): Column = {
    val collapsible = not(exists(vec, x => isnan(x))) &&
      aggregate(vec, lit(0.0d), (acc, x) => acc + x * x) =!= lit(0.0d)
    when(collapsible, md5(vec.cast("string")))
      .otherwise(concat(lit("solo:"), id.cast("string")))
  }

  /** The exact-duplicate collapse frames over a (vec_id, v) corpus:
    * `keyed` = (vec_id, gk) under [[vecCollapseKey]], `groups` =
    * (gk, rep = min vec_id, gn). Callers cache `groups` themselves (the
    * two call sites scope the cache differently). Not
    * [[Dedup.exactGroups]]: these groups also count their members (gn),
    * so the member joins read only the duplicate groups.
    */
  private def collapseGroups(corpus: DataFrame): (DataFrame, DataFrame) = {
    val keyed = corpus
      .select(col("vec_id"), vecCollapseKey(col("v"), col("vec_id")).as("gk"))
    val groups = keyed.groupBy(col("gk"))
      .agg(min(col("vec_id")).as("rep"), count(lit(1)).as("gn"))
    (keyed, groups)
  }

  /** Semantic deduplication (SemDeDup-shape): collapse documents that are
    * near-duplicates in EMBEDDING space — paraphrases and re-encodings
    * that no lexical tier (shingles, minhash, simhash) can see — into one
    * representative each. Pipeline: sub-quadratic banded candidate pairs
    * at cos ≥ [[LshThreshold]] (exact-cosine verified, over the planted
    * near-dup corpus the LSH tier is oracle-gated on), connected
    * components over the pair graph ([[Dedup.connectedComponents]] —
    * min-label propagation with pointer jumping, O(log D) rounds), keep
    * the min-vec_id member per component. Output is the full per-vector
    * verdict (vec_id, cluster, kept) so downstream corpus assembly can
    * either filter on `kept` or weight by cluster. Scale shape: every
    * stage is the banded/blocked machinery already proven on its own
    * rows; the labels table is DUPLICATE-sized, which is small on a clean
    * corpus but corpus-scale on a replica-heavy one (real crawl corpora
    * run 30-50% dup; the sf1 fixture is 10× replicas by construction), so
    * the label join uses the [[TextAnalysis.decontaminateFraction]]
    * checked-bound pattern: a measured count under the bound broadcasts
    * (no corpus shuffle — labels.count() is a metadata read off the
    * eagerly-localCheckpointed label table, not a recompute); past the
    * bound it degrades to the ordinary shuffled equi-join, which is the
    * right plan when the "small" side isn't. The oracle replays the exact
    * threshold pair set and the component closure in SQL (n² oracle, like
    * every exact-pair-set oracle: the SPARK side stays sub-quadratic).
    *
    * Exact-duplicate pre-collapse (same internal ordering as the lexical
    * tier, [[Dedup]]'s jaccard pipeline): bitwise-identical vectors have
    * identical band signatures and cosine exactly 1 against each other,
    * so the banded machinery only ever needs ONE representative (min
    * vec_id) per distinct vector; the other members re-attach to their
    * representative's component label afterwards. On a replica-heavy
    * corpus — the SF≈1 canary is 10× identical replicas — skipping the
    * collapse multiplies every LSH bucket by the replication factor r and
    * the band self-join's Σ|bucket|² term (plus the pair graph CC chews
    * on) by r²; the collapse trades that for two skinny corpus shuffles
    * (16-byte md5 group key + two ids). Grouping hashes the vector's
    * STRING form — shortest-roundtrip float rendering, so distinct bit
    * patterns never collide textually and a false merge needs a 2^-128
    * digest collision, the same contract as the text tier's md5 key.
    * Equivalence is exact, not approximate: banding is a deterministic
    * function of the vector, so a full-corpus pair (a,b) is LSH-found iff
    * the rep pair is, and intra-group pairs (identical signatures collide
    * in every band, cos = 1 ≥ t) are always found — components over the
    * full corpus are exactly the group-unions of components over reps
    * (spec-pinned against the uncollapsed reference on a replicated
    * corpus). Zero-norm and NaN-containing vectors sit OUTSIDE the
    * cos-exactly-1 argument and are excluded from the collapse — each
    * stays its own singleton group and rides the banded machinery like
    * any other rep. Zero-norm is the correctness case: cosine() maps it
    * to 0.0, so identical zero vectors never verify as pairs and a
    * collapse would wrongly merge them. NaN vectors pair promiscuously
    * instead (Spark SQL orders NaN above every number, so a NaN verify
    * score passes `>= t`) — identically with or without collapse, but
    * excluding them keeps the equivalence proof on the cos=1 case alone.
    */
  def semanticDedupVerdicts(corpus: DataFrame,
                            t: Double = LshThreshold,
                            maxBroadcastLabels: Long = 5L * 1000 * 1000)
      : DataFrame = {
    // groups and reps are each referenced several times by the banded
    // machinery below (band explode ×2, cosine-verify ×2, the member
    // expansion) and everything that reads them is materialized INSIDE
    // this builder (CC's convergence loop, the labels checkpoint) — so
    // cache for the builder's own actions and unpersist before returning;
    // without this every reference re-runs the md5 groupBy shuffle.
    val (keyed, groupsRaw) = collapseGroups(corpus)
    val groups = groupsRaw.cache()
    val reps = corpus
      .join(groups.select(col("rep").as("vec_id")), Seq("vec_id"))
      .cache()
    val pairs = hyperplaneLshPairsUnsorted(reps, t)
      .select(col("vec_a"), col("vec_b"))
    val sc = corpus.sparkSession.sparkContext
    val blocksBeforeCc = sc.getPersistentRDDs.keySet
    // the builder-scoped caches and CC's checkpoint blocks must be
    // released on ANY in-builder failure (CC divergence, an executor
    // loss during the label checkpoint, the bound probe) — the returned
    // frame reads only the eagerly-checkpointed labels and the caller's
    // corpus, so by the success path's end they are dead too
    try {
      val repLabels = Dedup.connectedComponents(pairs, maxRounds = 20)
        .select(col("node").as("rep"), col("label"))
      val ccBlocks = sc.getPersistentRDDs.keySet.diff(blocksBeforeCc)
      def dropCc(): Unit = ccBlocks.foreach(id =>
        sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
      try {
        // Re-attach non-representative members (exactly the
        // exact-duplicate rows, so this union stays DUPLICATE-sized like
        // the pre-collapse labels were): a member's component label is
        // its rep's CC label, or the rep itself when the rep sits in no
        // cross-rep pair. Only multi-member groups can contribute
        // non-representative rows, so the expansion joins the
        // corpus-sized keyed frame against the DUPLICATE-GROUP subset
        // (empty on a clean corpus — the join then broadcasts a
        // near-empty side instead of shuffling corpus×corpus). Eager
        // localCheckpoint so the bound probe below and the final label
        // join both read materialized blocks instead of re-running the
        // expansion shuffles (the blocks fall under the
        // Caches.releaseAll contract, same as CC's final round).
        val labels = keyed
          .join(groups.filter(col("gn") >= 2).select(col("gk"), col("rep")),
            Seq("gk"))
          .filter(col("vec_id") =!= col("rep"))
          .join(repLabels, Seq("rep"), "left")
          .select(col("vec_id"), coalesce(col("label"), col("rep")).as("label"))
          .unionByName(repLabels.select(col("rep").as("vec_id"), col("label")))
          .localCheckpoint(true)
        // the expansion is materialized; CC's final-round blocks are dead
        dropCc()
        val labelSide =
          if (labels.count() <= maxBroadcastLabels) broadcast(labels)
          else labels
        corpus.select(col("vec_id"))
          .join(labelSide, Seq("vec_id"), "left")
          .select(col("vec_id"),
            coalesce(col("label"), col("vec_id")).as("cluster"),
            (coalesce(col("label"), col("vec_id")) === col("vec_id")).as("kept"))
          .orderBy(col("vec_id"))
      } catch { case e: Throwable => dropCc(); throw e }
    } finally {
      reps.unpersist(blocking = true)
      groups.unpersist(blocking = true)
    }
  }

  private def dedupSemantic(s: SparkSession, d: String): DataFrame = {
    val corpus = lshCorpus(s, d).cache()
    try semanticDedupVerdicts(corpus)
    finally { corpus.unpersist(blocking = true); () }
  }

  // -- Engine-exact k-means clustering (cluster_kmeans) ------------------

  /** Clusters for the oracle-exact k-means row. */
  private val KmK = 4

  /** Lloyd iterations for the oracle-exact k-means row. */
  private val KmIters = 2

  /** Quantization scale: dim value → ⌊x·1000⌋ (BIGINT). */
  private[graft] val KmScale = 1000

  /** Integer squared distance between a quantized vector column and a
    * literal quantized centroid: Σ(qᵢ−cᵢ)², folded in array order. All
    * BIGINT, so the value is exact and order-independent — the property
    * that lets the oracle compute the same sum relationally.
    */
  private def kmDist2(q: Column, cent: Seq[Long]): Column =
    aggregate(
      zip_with(q, typedLit(cent), (a, b) => (a - b) * (a - b)),
      lit(0L), (acc, x) => acc + x)

  /** Map-only nearest-centroid assignment against k literal centroids:
    * per-cluster integer distances in one projection, argmin via a `<=`
    * CASE chain (ties break to the smaller cluster id, same chain in the
    * oracle). Returns every input column plus (cluster, d2) — carrying
    * payload columns (e.g. the raw vector) through the map-only pass
    * costs nothing and saves the caller a re-attach JOIN of assignment
    * back onto the corpus (r18: the k-NN build paid two exchanges +
    * a SortMergeJoin for exactly that re-attach).
    */
  private[graft] def kmAssign(qv: DataFrame, cents: Seq[Seq[Long]]): DataFrame = {
    val dists = cents.zipWithIndex.map { case (c, i) => kmDist2(col("q"), c).as(s"d$i") }
    val k = cents.size
    val carry = qv.columns.toSeq
    // ADVICE r18: the carried projection would silently overwrite an
    // input column named like the outputs or the internal distance
    // aliases — reserve them loudly for future call sites
    val reserved = Set("cluster", "d2") ++ (0 until k).map(i => s"d$i")
    require(!carry.exists(reserved),
      s"kmAssign reserves ${reserved.mkString(",")}; input carries " +
        carry.filter(reserved).mkString(","))
    val withD = qv.select(carry.map(col) ++ dists: _*)
    val cluster = (0 until k - 1).foldRight(lit(k - 1)) { (i, els) =>
      val leqAll = ((i + 1) until k)
        .map(j => col(s"d$i") <= col(s"d$j"))
        .reduce(_ && _)
      when(leqAll, lit(i)).otherwise(els)
    }
    val d2 = (0 until k).foldRight(lit(Long.MaxValue): Column) { (i, els) =>
      when(col("cluster") === i, col(s"d$i")).otherwise(els)
    }
    withD.withColumn("cluster", cluster)
      .withColumn("d2", d2)
      .select(carry.map(col) :+ col("cluster") :+ col("d2"): _*)
  }

  /** K-means clustering with ENGINE-EXACT Lloyd iterations — the
    * clustering stage SemDeDup-style pipelines run before per-cluster
    * dedup, as a first-class oracle-green row. Classic float k-means can
    * never hash-match a second engine (group-sum order changes the
    * centroid in the last ulp, which can flip boundary assignments), so
    * this row runs Lloyd entirely in QUANTIZED INTEGER space: dims are
    * quantized once to ⌊x·1000⌋ (float→double cast and the ×1000 double
    * multiply are IEEE-identical in both engines), distances are exact
    * BIGINT sums, and the centroid update is ⌊Σq/n⌋ where Σq < 2⁵³ keeps
    * the double division exact — every derived value is integer-exact, so
    * DuckDB replays both iterations relationally and the verdict
    * hash-matches. Quantized assignment is a real technique (it is what
    * PQ/ScaNN-style engines score with), not just an oracle trick.
    *
    * Scale shape (MLlib's own k-means shape): seeds and per-iteration
    * centroids are k×dim driver metadata (the IVF precedent); each
    * assignment pass is a MAP-ONLY projection against literal centroids
    * (no join, no shuffle); each update pass is one partial-aggregated
    * groupBy(cluster, pos) whose exchange carries ≤ partitions×k×dim
    * rows. Two shuffle-light passes per iteration, linear in the corpus,
    * at any corpus size. Empty clusters keep their previous centroid
    * (same convention as [[kmeansCentroids]]; the oracle mirrors it with
    * a LEFT JOIN + COALESCE).
    */
  /** [[KmIters]] quantized Lloyd iterations over a (vec_id, q) frame:
    * seeds from the [[KmK]] smallest vec_ids, map-only assignment, one
    * partial-aggregated update shuffle per round, centroids as k×dim
    * driver metadata throughout (the IVF precedent). Shared by the
    * standalone [[clusterKmeans]] row and the [[pipelineSemdedup]]
    * composition, which fits the same kernel over the planted corpus.
    */
  private[graft] def kmFit(qv: DataFrame): Seq[Seq[Long]] = {
    var cents: Seq[Seq[Long]] = qv.orderBy(col("vec_id")).limit(KmK)
      .collect().map(_.getSeq[Long](1).toSeq).toSeq
    for (_ <- 1 to KmIters) {
      val next = kmAssign(qv, cents)
        .select(col("cluster"), posexplode(col("q")).as(Seq("pos", "x")))
        .groupBy(col("cluster"), col("pos"))
        .agg(floor(sum(col("x")).cast(DoubleType) / count(lit(1))).as("cx"))
        .collect()
      val byCluster = next.groupBy(_.getInt(0)).map { case (c, rows) =>
        (c, rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq)
      }
      cents = cents.zipWithIndex.map { case (prev, c) =>
        byCluster.getOrElse(c, prev)
      }
    }
    cents
  }

  private[graft] def clusterKmeans(s: SparkSession, d: String): DataFrame = {
    val qv = emb(s, d)
      .select(col("vec_id"),
        transform(col("v"), x => floor(x * lit(KmScale))).as("q"))
      .cache()
    try {
      val cents = kmFit(qv)
      val assigned = kmAssign(qv, cents)
        .select(col("vec_id"), col("cluster"), col("d2"))
      val sizes = assigned.groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"))
      assigned.join(broadcast(sizes), Seq("cluster"))
        .select(col("vec_id"), col("cluster"), col("d2"), col("n_members"))
        .orderBy(col("vec_id"))
    } finally { qv.unpersist(blocking = true); () }
  }

  /** SemDeDup end-to-end (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication") — the
    * canonical LLM-pipeline composition over the embedding tier: k-means
    * cluster the corpus, then near-dup WITHIN each cluster only (the
    * clustering bounds the candidate set without LSH recall loss — the
    * whole point of SemDeDup), keep one representative per duplicate
    * set, and report the per-cluster keep/drop funnel.
    *
    * Stages, each reusing a proven kernel:
    *  1. the planted near-dup corpus ([[lshCorpus]] — the raw fixture's
    *     max pair cos ≈ 0.51, so the oracle-checked corpus plants one
    *     ≈0.977 copy per vector, the same geometry the LSH tier is gated
    *     on);
    *  2. ENGINE-EXACT quantized k-means ([[kmFit]]/[[kmAssign]] — the
    *     [[clusterKmeans]] kernel, integer-exact so DuckDB replays both
    *     Lloyd rounds relationally and the assignment hash-matches);
    *  3. exact-duplicate pre-collapse ([[vecCollapseKey]]): identical
    *     vectors quantize identically, so they land in the same cluster
    *     and pair at cos = 1 — the banded tier's collapse argument
    *     specializes to the greedy rule (proof below), and on a
    *     replica-heavy corpus it takes the within-cluster pair join from
    *     r²·Σ|c|² to Σ|c_distinct|²;
    *  4. within-cluster greedy dedup at cos ≥ [[LshThreshold]]: rep b
    *     drops iff some rep a < b in the same cluster has
    *     cos(a,b) ≥ t — SemDeDup's keep-one-per-duplicate-set rule in
    *     its deterministic lowest-id form (the paper keeps a random/
    *     farthest member; min-id is the engine-replayable choice);
    *  5. funnel: per cluster, members / dropped / kept.
    *
    * Collapse ⟺ greedy equivalence: cluster() and cos() are functions of
    * the vector VALUE, and rep = min(group). A non-rep member m always
    * has its rep < m, cos(rep,m) = 1 ≥ t, same cluster → m drops. A rep
    * b has an uncollapsed witness a < b (same cluster, cos ≥ t) iff the
    * group holding a has min(group) < b with the same cosine against b —
    * i.e. iff a REP witness exists. So dropped(full) = non-rep members ∪
    * dropped(reps), which is exactly what stages 3-4 compute. Zero-norm/
    * NaN vectors are singleton-keyed (never collapsed), so the argument
    * never touches the cos-undefined cases.
    *
    * Scale shape: the Lloyd passes are map-only + one partitions×k×dim
    * update exchange per round; the pair stage is an EQUI-join on the
    * cluster key whose cost is Σ|cluster|² — bounded by choosing k so
    * clusters stay ~constant-sized (SemDeDup runs k ≈ n/‹target size›;
    * the fixture row pins k = [[KmK]] for the oracle replay — at
    * production k the literal-centroid argmin embeds k·dim doubles in
    * the plan and would swap for the broadcast-join argmax the IVF tier
    * already dispatches to above [[AssignLiteralMaxK]], the only change
    * this composition would need). The dropped
    * set is materialized once (duplicate-sized, eager localCheckpoint —
    * released under the Caches.releaseAll contract) so the returned
    * frame re-reads only one map-only assignment pass. The funnel output
    * is k rows.
    */
  /** Stages 2-4 of [[pipelineSemdedup]] with the builder caches exposed
    * as a release thunk: returns (assigned, dropped, release) where
    * `assigned` is the map-only (vec_id, cluster) frame, `dropped` is the
    * LAZY union of greedy-dropped reps and collapsed members, and
    * `release` unpersists the corpus/quantized/group caches. Callers
    * must materialize everything they need from `dropped` before
    * releasing (the funnel localCheckpoints it); the spec uses this form
    * to plan-assert the pair stage directly.
    */
  private[graft] def semdedupDroppedReleasable(corpus: DataFrame)
      : (DataFrame, DataFrame, () => Unit) = {
    val cached = corpus.select(col("vec_id"), col("v")).cache()
    val qv = cached.select(col("vec_id"),
      transform(col("v"), x => floor(x * lit(KmScale))).as("q")).cache()
    val (keyed, groupsRaw) = collapseGroups(cached)
    val groups = groupsRaw.cache()
    val release = () => {
      groups.unpersist(blocking = true)
      qv.unpersist(blocking = true)
      cached.unpersist(blocking = true)
      ()
    }
    try {
      val cents = kmFit(qv)
      val assigned = kmAssign(qv, cents).select(col("vec_id"), col("cluster"))
      val reps = cached
        .join(groups.select(col("rep").as("vec_id")), Seq("vec_id"))
        .join(assigned, Seq("vec_id"))
      val lhs = reps.select(col("cluster"), col("vec_id").as("ida"),
        col("v").as("va"))
      val rhs = reps.select(col("cluster"), col("vec_id").as("idb"),
        col("v").as("vb"))
      val droppedReps = lhs.join(rhs, Seq("cluster"))
        .filter(col("ida") < col("idb"))
        .filter(GraftFunctions.cosine_sim(col("va"), col("vb")) >= LshThreshold)
        .select(col("idb").as("vec_id"))
      val droppedMembers = keyed
        .join(groups.filter(col("gn") >= 2).select(col("gk"), col("rep")),
          Seq("gk"))
        .filter(col("vec_id") =!= col("rep"))
        .select(col("vec_id"))
      (assigned, droppedReps.unionByName(droppedMembers).distinct(), release)
    } catch { case e: Throwable => release(); throw e }
  }

  /** The full funnel over any (vec_id, v) corpus — [[pipelineSemdedup]]
    * applies it to the planted corpus; the spec applies it to a
    * replicated one to pin the collapse ⟺ greedy equivalence with the
    * member-expansion path actually exercised.
    */
  private[graft] def semdedupFunnel(corpus: DataFrame): DataFrame = {
    val (assigned, droppedLazy, release) = semdedupDroppedReleasable(corpus)
    try {
      // duplicate-sized; eager so the builder caches can be released
      // before the lazy funnel frame is returned (the checkpoint blocks
      // fall under the Caches.releaseAll contract)
      val dropped = droppedLazy.withColumn("is_dropped", lit(true))
        .localCheckpoint(true)
      assigned.join(dropped, Seq("vec_id"), "left")
        .groupBy(col("cluster"))
        .agg(count(lit(1)).as("n_members"),
          sum(when(col("is_dropped"), 1L).otherwise(0L)).as("n_dropped"))
        .select(col("cluster"), col("n_members"), col("n_dropped"),
          (col("n_members") - col("n_dropped")).as("n_kept"))
        .orderBy(col("cluster"))
    } finally release()
  }

  private[graft] def pipelineSemdedup(s: SparkSession, d: String): DataFrame = {
    semdedupFunnel(lshCorpus(s, d))
  }

  // -- dense-retrieval RAG serving funnel (pipeline_rag_dense) -------------

  /** Chunks kept by [[pipelineRagDense]]'s exact re-rank stage. */
  private val DenseK = 10

  /** Coarse cells probed (of [[KmK]]) — the IVF-bounded candidate rule. */
  private[graft] val DenseNProbe = 2

  /** The serving query — a deterministic literal, normalized by the same
    * rule as the corpus before embedding. Deliberately a FULL-CHUNK-length
    * sentence (≈[[TextAnalysis.ChunkSize]] words): letter-count profiles
    * scale with text length, so a short query would rank short tail
    * chunks first and the budget cut would never engage — a chunk-sized
    * query makes full windows win the re-rank and the packing stage cut
    * mid-list (the gate covers the cut, not just the ranking).
    */
  private[graft] val DenseQuery =
    "merge the filter and spark stream over each partition window while " +
    "the query plans sort vector batches into the table scan and the " +
    "join order stays stable under load across every node"

  /** Embedding dimensions: the 16 letters a–p. A letter-count profile is
    * the langid-style character-frequency embedding — deterministic,
    * integer-exact in both engines (counts, no rounding anywhere), and
    * honestly a stand-in for a model encoder the same way the multimodal
    * tier stubs its decoders: the pipeline under test is the RETRIEVAL
    * funnel (coarse quantize → probe → re-rank → pack), which is encoder-
    * agnostic by construction.
    */
  private val DenseLetters: Seq[String] = ('a' to 'p').map(_.toString)

  /** Letter-count profile of a normalized text column → ARRAY<BIGINT>
    * (one `length − length(replace(...))` pair per dimension, all inside
    * whole-stage codegen; the oracle replays the identical arithmetic).
    */
  private def letterProfile(norm: Column): Column =
    array(DenseLetters.map(ch =>
      (length(norm) - length(replace(norm, lit(ch), lit("")))).cast("long")): _*)

  /** [[letterProfile]]'s DuckDB spelling over a column named `src`. */
  private def denseQSql(src: String): String =
    DenseLetters.map(ch =>
      s"CAST(length($src) - length(replace($src, '$ch', '')) AS BIGINT)")
      .mkString("[", ",\n               ", "]")

  /** Dense-retrieval RAG serving funnel — the ninth composition row and
    * the missing tier link (VERDICT r17 item 2: the IVF machinery never
    * fed a composed pipeline; [[graft.operators.TextAnalysis]]'s
    * `pipeline_rag` ranks with BM25 only). The chain a dense-retrieval
    * serving path actually runs:
    *
    *  1. chunk every document into the RAG tier's overlapping windows
    *     ([[TextAnalysis.ragChunkCorpus]] — same packing key, same
    *     guards);
    *  2. embed each chunk deterministically ([[letterProfile]] over the
    *     normalized chunk text — quantized-integer by construction, the
    *     [[clusterKmeans]] convention);
    *  3. learn the coarse quantizer with the ENGINE-EXACT quantized
    *     Lloyd kernel ([[kmFit]] — centroids are k×dim driver metadata,
    *     the IVF precedent) and assign chunks map-only ([[kmAssign]],
    *     no join, no shuffle on the corpus path);
    *  4. IVF-bounded candidate probe: the query embeds through the SAME
    *     engine path (one literal row), its [[DenseNProbe]] nearest
    *     cells are a driver-side k-sized integer argmin, and candidates
    *     are a cell-membership FILTER — the corpus outside the probed
    *     cells is never scored (the whole point of IVF serving);
    *  5. exact re-rank: integer distance to the query, ascending,
    *     vec_id tie-break, top [[DenseK]] via orderBy+limit
    *     (TakeOrdered — never a global window over the candidates);
    *  6. token-budget context packing: the `pipeline_rag` cumulative
    *     cut at [[TextAnalysis.RagBudget]], over ≤ [[DenseK]] rows, with
    *     the K-row ranked side BROADCAST back onto the chunk corpus for
    *     token counts.
    *
    * Scale shape: two map-only corpus passes per Lloyd round plus one
    * partitions×k×dim update exchange (the [[kmFit]] contract), one
    * map-only assignment + filter pass for candidates, a TakeOrdered of
    * the probed subset, and a broadcast join whose build side is K rows.
    * No crossJoin, no corpus-grain window, no driver collect beyond
    * k×dim centroids and the 1-row query embedding. The DuckDB oracle
    * replays every stage — chunking, letter profiles, both Lloyd rounds,
    * the probe argmin, the re-rank, the budget cut — from the same
    * integer arithmetic, so the verdict hash-matches.
    *
    * The chunk frame is cached (feeds kmFit's driver iterations, the
    * assignment pass, and the token-count join-back) and released by the
    * session owner via Caches.releaseAll, the substringDups contract.
    */
  private[graft] def pipelineRagDense(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{TextFunctions => TF}
    // the cache holds the COMPUTED 16-int profiles + token counts, not
    // the norm strings: kmFit's five passes (seeds, 2× assign+update,
    // final assign) re-read the cache, and caching upstream of the
    // profile made every pass re-run the 16 length/replace scans per
    // chunk (measured ~2.8× the cluster_kmeans kernel cost at sf0.1;
    // with profiles cached the passes touch 17 small columns)
    val chunks = TextAnalysis.ragChunkCorpus(s, d)
      .select(col("doc_id").as("vec_id"),
        TF.normText(col("text")).as("norm"))
      .select(col("vec_id"), letterProfile(col("norm")).as("q"),
        size(split(col("norm"), " ")).cast("long").as("n_tokens"))
      .cache()
    val qv = chunks.select(col("vec_id"), col("q"))
    val cents = kmFit(qv)
    // the query embeds THROUGH the engine (one literal row): the same
    // normText + letterProfile codegen path the corpus takes, so the
    // query vector can never drift from the corpus convention
    val queryVec: Seq[Long] = s.range(1)
      .select(letterProfile(TF.normText(lit(DenseQuery))).as("q"))
      .head().getSeq[Long](0).toSeq
    // coarse probe: k integer distances on the driver (centroids are
    // driver metadata by construction), nprobe nearest, ties to the
    // smaller cell — the oracle's ORDER BY d2, c LIMIT nprobe
    val probed: Seq[Int] = cents.zipWithIndex.map { case (cv, c) =>
      (cv.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum, c)
    }.sorted.take(DenseNProbe).map(_._2)
    val cand = kmAssign(qv, cents)
      .filter(col("cluster").isin(probed.map(_.asInstanceOf[Any]): _*))
      .select(col("vec_id"), col("cluster").cast("int").as("cell"),
        kmDist2(col("q"), queryVec).as("d2"))
    val topK = cand.orderBy(col("d2"), col("vec_id")).limit(DenseK)
      .withColumn("rnk",
        row_number().over(Window.orderBy(col("d2"), col("vec_id")))
          .cast("int"))
    val ntok = chunks.select(col("vec_id"), col("n_tokens"))
    val wc = Window.orderBy(col("rnk"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ntok.join(broadcast(topK), Seq("vec_id"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wc).cast("long"))
      .filter(col("cum_tokens") <= TextAnalysis.RagBudget)
      .select(col("rnk"),
        expr(s"vec_id div ${TextAnalysis.RagKeyMult}").as("src_doc"),
        (col("vec_id") % TextAnalysis.RagKeyMult).cast("int").as("chunk_id"),
        col("cell"), col("d2"), col("n_tokens"), col("cum_tokens"))
      .orderBy(col("rnk"))
  }

  // -- k-NN graph build (graph_knn) -----------------------------------------

  /** Neighbors kept per vector in [[graphKnn]]. */
  private val KnnK = 5

  /** k-NN GRAPH build over the embedding corpus — the missing primitive
    * between the ANN tier and the graph tier (VERDICT r17 item 8), and
    * the input SemDeDup-style curation variants and graph-based
    * retrieval (HNSW construction, connectivity-based dedup) consume:
    * one row per (vector, rank) with its k nearest neighbors.
    *
    * Candidate bounding is the IVF idea applied corpus-to-corpus: learn
    * the engine-exact quantized coarse quantizer ([[kmFit]], the
    * [[clusterKmeans]] kernel, so the DuckDB oracle replays the cells
    * relationally), assign map-only ([[kmAssign]]), and pair ONLY within
    * a cell — an EQUI join on the cell id, never corpus². Σ|cell|² is
    * the same bound [[pipelineSemdedup]] rides; at production scale k
    * grows as n/⟨target cell size⟩ so cells stay ~constant and the build
    * is linear in n (above [[AssignLiteralMaxK]] the assignment
    * dispatches to the broadcast-join argmax unchanged). Cell-bounded
    * kNN trades boundary recall for that bound — the standard IVF-graph
    * construction trade, stated here rather than hidden (a multi-probe
    * variant unions [[DenseNProbe]] assignments per side; same plan
    * shape, nprobe× the candidate mass).
    *
    * Ranking is exact within candidates: the proven cosine kernel at the
    * brute tier's 6-decimal rounding, neighbor-id tie-break, and the
    * per-vector top-k rides the row_number ≤ k rank filter that plans as
    * WindowGroupLimit (each map partition keeps only its own top-k per
    * vector BEFORE the exchange — the [[TextAnalysis.pipelineRagBatch]]
    * precedent).
    */
  /** The (vec_id, rnk, nbr_id, cos) top-k lists before output shaping —
    * shared by the [[graphKnn]] row itself and the [[graphKnnComponents]]
    * composition. Caches the embedding corpus (kmFit's driver rounds +
    * the pairing read it; released by the session owner via
    * Caches.releaseAll).
    */
  /** @param sharedCents pass precomputed coarse-quantizer centroids to
    *        skip this build's own [[kmFit]] — [[graphKnnRecall]] builds
    *        BOTH tiers over the same corpus and the fit is deterministic
    *        (seeds = smallest vec_ids, integer-exact rounds), so the two
    *        fits were identical driver work: 3 eager collect jobs each
    *        (r18).
    */
  private def knnRanked(s: SparkSession, d: String,
      sharedCents: Option[Seq[Seq[Long]]] = None): DataFrame = {
    val base = emb(s, d).cache()
    // assignment carries the raw vector THROUGH the map-only pass
    // (kmAssign preserves input columns since r18) instead of joining it
    // back on: the old base⋈assigned re-attach cost two exchanges + a
    // SortMergeJoin per side for a column the pass never had to drop
    val qv = base.select(col("vec_id"), col("v"),
      transform(col("v"), x => floor(x * lit(KmScale))).as("q"))
    val cents = sharedCents.getOrElse(
      kmFit(qv.select(col("vec_id"), col("q"))))
    val sides = kmAssign(qv, cents).select(col("cluster"), col("vec_id"),
      col("v"))
    val lhs = sides
    val rhs = sides.select(col("cluster"), col("vec_id").as("nbr_id"),
      col("v").as("nv"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    // cosine is SYMMETRIC and bit-identical in both directions (dot
    // terms pair index-by-index, the two norms multiply commutatively),
    // so score each unordered pair ONCE (vec_id < nbr_id halves the
    // candidate mass — the dominant per-task cost, a 64-dim cosine per
    // row) and mirror the scored row map-side with a 2-struct explode;
    // the per-vector top-k below sees exactly the directed rows the
    // full self-join produced
    lhs.join(rhs, Seq("cluster"))
      .filter(col("vec_id") < col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        round(GraftFunctions.cosine_sim(col("v"), col("nv")), 6).as("cos"))
      .select(explode(array(
        struct(col("vec_id"), col("nbr_id"), col("cos")),
        struct(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id"),
          col("cos")))).as("e"))
      .select(col("e.vec_id").as("vec_id"), col("e.nbr_id").as("nbr_id"),
        col("e.cos").as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KnnK)
  }

  private[graft] def graphKnn(s: SparkSession, d: String): DataFrame =
    knnRanked(s, d)
      .select(col("vec_id"), col("rnk").cast("int").as("rnk"),
        col("nbr_id"), col("cos"))
      .orderBy(col("vec_id"), col("rnk"))

  /** MULTI-PROBE k-NN build — the boundary-recall variant the
    * [[knnRanked]] scaladoc names: each vector contributes candidates
    * from its [[DenseNProbe]] nearest cells (not just the argmin cell),
    * so a true neighbor sitting just across a Voronoi boundary is only
    * missed when NEITHER side probes a shared cell. Same plan shape as
    * the single-probe build — the probe table is 2 rows per vector, the
    * pairing stays an EQUI join on the cell id with ≤ nprobe²× the
    * candidate mass, and the per-vector top-k still partial-limits
    * before the exchange. The probe ranking is the same integer
    * arithmetic as the assignment (distances to the k driver-metadata
    * centroids, ties to the smaller cell), so the oracle replays it from
    * the d3 distance table it already materializes.
    */
  private def knnMultiprobeRanked(s: SparkSession, d: String,
      sharedCents: Option[Seq[Seq[Long]]] = None): DataFrame = {
    val base = emb(s, d).cache()
    val qv = base.select(col("vec_id"),
      transform(col("v"), x => floor(x * lit(KmScale))).as("q"))
    val cents = sharedCents.getOrElse(kmFit(qv))
    val scored = explode(array(cents.zipWithIndex.map { case (cv, i) =>
      struct(kmDist2(col("q"), cv).as("d2"), lit(i).as("cell")) }: _*))
    val wp = Window.partitionBy(col("vec_id"))
      .orderBy(col("pc.d2"), col("pc.cell"))
    val probes = qv.select(col("vec_id"), scored.as("pc"))
      .withColumn("prnk", row_number().over(wp))
      .filter(col("prnk") <= DenseNProbe)
      .select(col("vec_id"), col("pc.cell").as("cell"))
    // pair on any SHARED probed cell; a pair sharing both cells would
    // count twice, so the id set is distinct-ed before the vectors join
    // back (ids only — never dragging the vectors through the distinct).
    // EXPLICIT-width repartition before the distinct (the dedup_edit_qgram
    // lesson verbatim): the candidate set is millions of rows but tiny in
    // BYTES (two longs), so AQE's byte-based coalescing funnels the fused
    // cosine stage on top onto ~2 threads (measured 11.4 s at sf0.1;
    // ~3 s spread) — row count is this stage's cost model, each row a
    // 64-dim cosine
    // the shared-cell candidate set is symmetric by construction (both
    // sides draw from the same probe table), and cosine is bit-identical
    // in both directions — so keep only vec_id < nbr_id through the
    // distinct and the two vector attaches, score once per unordered
    // pair, and mirror map-side with a 2-struct explode (the knnRanked
    // r18 halving, applied before the distinct so the exchange and the
    // dedup hash set also carry half the rows)
    val cand = probes.join(
        probes.select(col("vec_id").as("nbr_id"), col("cell")), Seq("cell"))
      .filter(col("vec_id") < col("nbr_id"))
      .select(col("vec_id"), col("nbr_id"))
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("vec_id"), col("nbr_id"))
      .distinct()
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("nbr_id"))
    cand
      .join(base, Seq("vec_id"))
      .join(base.select(col("vec_id").as("nbr_id"), col("v").as("nv")),
        Seq("nbr_id"))
      .select(col("vec_id"), col("nbr_id"),
        round(GraftFunctions.cosine_sim(col("v"), col("nv")), 6).as("cos"))
      .select(explode(array(
        struct(col("vec_id"), col("nbr_id"), col("cos")),
        struct(col("nbr_id").as("vec_id"), col("vec_id").as("nbr_id"),
          col("cos")))).as("e"))
      .select(col("e.vec_id").as("vec_id"), col("e.nbr_id").as("nbr_id"),
        col("e.cos").as("cos"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= KnnK)
  }

  private[graft] def graphKnnMultiprobe(s: SparkSession, d: String): DataFrame =
    knnMultiprobeRanked(s, d)
      .select(col("vec_id"), col("rnk").cast("int").as("rnk"),
        col("nbr_id"), col("cos"))
      .orderBy(col("vec_id"), col("rnk"))

  /** Recall floors for [[graphKnnRecall]]. Measured recall@5 against the
    * brute ranking on the deterministic fixtures: single-probe 0.54 /
    * 0.64 / 0.70 and multi-probe 0.94 / 0.94 / 1.00 across
    * sf0.01/0.001/0.1 — the floors sit far enough below every operating
    * point not to flake and far enough above chance to catch a broken
    * index (the [[IvfRecallFloor]] discipline). Multi ≥ single holds BY
    * CONSTRUCTION (the multi-probe candidate set is a superset: probe
    * rank 1 with the (d2, cell) tie-break IS the assignment cell), so
    * the spec asserts the improvement while this row gates the absolute
    * contracts.
    */
  private val KnnRecallFloorSingle = 0.4
  private val KnnRecallFloorMulti = 0.85

  /** Recall@k of BOTH k-NN builds against the exact brute ranking over
    * the query slice — the quality contract beside the exact-list gates:
    * cell-bounded kNN trades boundary recall for the Σ|cell|² bound, and
    * this row MEASURES the trade (and multi-probe's recovery of it)
    * instead of asserting it in prose. Unlike the IVF/PQ recall gates
    * (boolean-only), the recall VALUE itself is hash-gated: every
    * ingredient — brute lists, both candidate sets, the hit join, the
    * n/50 division — is deterministic in both engines, so the oracle
    * recomputes the same number bit for bit.
    */
  private[graft] def graphKnnRecall(s: SparkSession, d: String): DataFrame = {
    val brute = bruteTopK(s, d).select(col("qid"), col("vec_id").as("nbr_id"))
    def tierRecall(name: String, lists: DataFrame, floor: Double): DataFrame = {
      val hits = lists.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("qid"), col("nbr_id"), lit(1).as("hit"))
      brute.join(hits, Seq("qid", "nbr_id"), "left")
        .agg(countDistinct(col("qid")).as("n_queries"),
          round(sum(coalesce(col("hit"), lit(0))) * lit(1.0) / count(lit(1)), 6)
            .as("recall"))
        .select(lit(name).as("tier"), col("n_queries"),
          lit(KnnK).as("k"), col("recall"),
          (col("recall") >= lit(floor)).as("recall_ok"))
    }
    // one deterministic coarse-quantizer fit shared by both tiers (the
    // builds over the same corpus fit identical centroids; each fit is 3
    // eager collect jobs over the corpus — r18)
    val cents = kmFit(emb(s, d).cache().select(col("vec_id"),
      transform(col("v"), x => floor(x * lit(KmScale))).as("q")))
    tierRecall("multiprobe", knnMultiprobeRanked(s, d, Some(cents)),
        KnnRecallFloorMulti)
      .unionByName(tierRecall("single", knnRanked(s, d, Some(cents)),
        KnnRecallFloorSingle))
      .orderBy(col("tier"))
  }

  /** Cosine floor for [[graphKnnComponents]]' edge carve — the
    * embedding-threshold tier's fixture-scaled value (see
    * [[CosThreshold]] for why 0.4 on this unstructured corpus).
    */
  private val KnnEdgeT = CosThreshold

  /** Connected components of the thresholded k-NN graph — the
    * graph-side curation composition the k-NN primitive exists to feed
    * (mutual-neighborhood duplicate grouping: SemDeDup-style variants
    * and entity-resolution pipelines cluster exactly this graph):
    * [[knnRanked]]'s lists carved at cos ≥ [[KnnEdgeT]] become
    * undirected edges, and the proven pointer-jumping label propagation
    * ([[graft.operators.Dedup.connectedComponents]] — O(log D) rounds,
    * exact Σlabel fixpoint) yields one row per duplicate group with its
    * member count. Edge mass is bounded twice over: ≤ k per vector by
    * the top-k carve and by the cell bound underneath it — never a
    * corpus² pair set at any scale. The oracle replays the k-NN lists
    * relationally, then closes the same edge set with a recursive CTE
    * (the dedup_clusters convention).
    */
  private[graft] def graphKnnComponents(s: SparkSession, d: String): DataFrame = {
    val edges = knnRanked(s, d)
      .filter(col("cos") >= KnnEdgeT)
      .select(least(col("vec_id"), col("nbr_id")).as("doc_a"),
              greatest(col("vec_id"), col("nbr_id")).as("doc_b"))
      .distinct()
      .cache()
    // the component loop drives actions internally (one per round), so
    // the edge cache is fully consumed when it returns — same contract
    // as dedupClusters
    try {
      Dedup.connectedComponents(edges, maxRounds = 20)
        .groupBy(col("label").as("cluster"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("cluster"))
    } finally { edges.unpersist(blocking = true); () }
  }

  /** Scalar int8 quantization of the embedding corpus — the storage
    * compression step every 100 TB vector store runs before ANN (4× over
    * float32; FAISS `SQ8` / ScaNN's scalar path): per-vector symmetric
    * max-abs scaling, `q_i = ⌊v_i·127/maxabs⌋` clamped into [-127,127] by
    * construction. `floor` (not round-nearest) keeps the lattice
    * engine-exact — rounding tie rules are library-dependent where
    * IEEE-754 division and floor are bit-identical everywhere; production
    * swaps in round-nearest for ~half an ulp of extra precision at the
    * cost of the oracle. Float→double widening is exact, so the DuckDB
    * replay matches bit for bit.
    *
    * Map-only: one pass of higher-order projections per vector, no
    * shuffle except the presentation sort; the quantized stats
    * (Σq, min/max, saturation count — the max-abs elements hit ±127 by
    * construction, so `n_sat ≥ 1` everywhere) hash-gate the full lattice
    * placement of every component. At scale the q-vectors (plus the one
    * float scale per vector) are what lands in the ANN index files.
    */
  private def embQuantizeInt8(s: SparkSession, d: String): DataFrame = {
    val e = Tables.load(s, d, "embeddings")
      .select(col("vec_id"),
        col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .withColumn("ma", array_max(transform(col("v"), x => abs(x))))
      .withColumn("q", when(col("ma") === 0d,
          transform(col("v"), _ => lit(0L)))
        .otherwise(transform(col("v"),
          x => floor(x * lit(127.0) / col("ma")))))
    e.select(col("vec_id"),
        size(col("v")).as("n_dims"),
        aggregate(col("q"), lit(0L), (a, b) => a + b).as("sum_q"),
        array_min(col("q")).cast("int").as("min_q"),
        array_max(col("q")).cast("int").as("max_q"),
        size(filter(col("q"), x => abs(x) === 127)).as("n_sat"))
      .orderBy(col("vec_id"))
  }

  // -- Engine-exact PCA power iteration (emb_pca_power / emb_pca_project) --

  /** Exact truncating integer division (toward zero), identical in Spark
    * and DuckDB: `%` is the sign-of-dividend remainder in both engines,
    * `a - a%b` is an exact multiple of `b`, and the double division of
    * two exact sub-2⁵³ integers whose quotient is an integer is exact —
    * so the cast back to long is lossless. Valid for |a| < 2⁵³; every
    * call site's operand bound is derived in [[pcaV2]]'s scaladoc.
    */
  private def tdiv(a: Column, b: Column): Column =
    ((a - a % b) / b).cast("long")

  /** Divisor scale for the projection weights: w = tdiv(component, 10⁴). */
  private val PcaProjShift = 10000L

  /** Canonicalized top principal component of the embedding corpus by two
    * ENGINE-EXACT power-iteration rounds — the PCA/OPQ rotation-prep
    * stage vector stores run before PQ (FAISS `PCAMatrix`, OPQ's
    * eigen-initialization). Float PCA can never hash-match a second
    * engine (Gram sums are order-dependent in the last ulp), so the whole
    * chain runs in QUANTIZED INTEGER space, the [[clusterKmeans]]
    * convention extended to matrix work:
    *  - dims quantize once to ⌊x·1000⌋ (IEEE-identical in both engines);
    *  - the covariance numerator `n·Σqᵢqⱼ − Σqᵢ·Σqⱼ` is an exact BIGINT
    *    (|·| ≤ 2n²·10⁶ — inside 2⁵³ through n ≈ 6·10⁴; a corpus past
    *    that needs [[KmScale]] dropped a decade — one constant, mirrored
    *    in the oracle's literal — which nothing else depends on; the
    *    fixtures stay ≤6·10⁴ so 1000 is always exact here);
    *  - G = tdiv(numerator, n²) is the integer covariance matrix
    *    (n-independent magnitude, |G| ≤ 10⁶ for unit-normed inputs);
    *  - v₂ = G·(G·1) — two matvecs as exact BIGINT sums, |v₂| ≤
    *    64²·10⁶·10⁶·… bounded by 64·|G|·|v₁| ≤ 4.1·10¹⁵ at dim 64, so
    *    every later tdiv operand stays exact;
    *  - sign canonicalization (eigenvectors are sign-ambiguous): flip so
    *    the largest-|v₂| dim (ties → smallest pos) is positive.
    * Scale shape: the Gram accumulation is a typed triangle
    * [[graft.functions.GramTriangleAgg]] — a flat primitive buffer per
    * partition, merged partial→final, so exactly ONE d(d+1)/2-cell array
    * per partition crosses the exchange (MLlib's computeGramianMatrix
    * shape; a declarative pair-explode computes the same cells ~10×
    * slower on the interpreted higher-order-function path); Sq is a
    * map-only posexplode into a two-phase hash aggregate; G/v₁/v₂ are
    * dim²/dim-sized metadata frames (broadcast joins, the IVF-centroid
    * precedent). One corpus pass.
    */
  private[graft] def pcaV2(s: SparkSession, d: String): DataFrame = {
    val qv = emb(s, d).select(col("vec_id"),
      transform(col("v"), x => floor(x * lit(KmScale))).as("q"))
    val nrow = qv.agg(count(lit(1)).as("n"))
    val e = qv.select(col("vec_id"),
      posexplode(col("q")).as(Seq("pos", "x")))
    val sq = e.groupBy(col("pos")).agg(sum(col("x")).as("sq"))
    // Gram accumulation via the typed triangle aggregator (one flat
    // Array[Long] buffer per partition crosses the exchange — the
    // treeAggregate shape; see [[graft.functions.GramTriangleAgg]]),
    // unpacked against a literal (k → i,j) triangle-index map and
    // mirrored to the full symmetric matrix
    val dim = emb(s, d).select(size(col("v"))).head.getInt(0)
    val gramAgg = udaf(new graft.functions.GramTriangleAgg(dim),
      ExpressionEncoder[Seq[Long]]())
    val idx = for { i <- 0 until dim; j <- i until dim }
      yield (i * dim - i * (i - 1) / 2 + (j - i), i, j)
    val idxDf = {
      import s.implicits._
      idx.toDF("k", "pi", "pj")
    }
    val tri = qv.agg(gramAgg(col("q")).as("tri"))
      .select(posexplode(col("tri")).as(Seq("k", "sqq")))
      .join(broadcast(idxDf), Seq("k"))
      .select(col("pi"), col("pj"), col("sqq"))
    val sqq = tri.unionAll(tri.filter(col("pi") =!= col("pj"))
      .select(col("pj").as("pi"), col("pi").as("pj"), col("sqq")))
    // g is referenced by both matvecs and v2 by both the canonicalizer
    // and the output — cache them so the corpus Gram pass runs ONCE per
    // action instead of once per reference (released by the session
    // owner via Caches.releaseAll, the shared-intermediate contract)
    val g = sqq
      .join(broadcast(sq.select(col("pos").as("pi"), col("sq").as("sqi"))),
        Seq("pi"))
      .join(broadcast(sq.select(col("pos").as("pj"), col("sq").as("sqj"))),
        Seq("pj"))
      .crossJoin(broadcast(nrow))
      .select(col("pi"), col("pj"),
        tdiv(col("n") * col("sqq") - col("sqi") * col("sqj"),
          col("n") * col("n")).as("g"))
      .cache()
    val v1 = g.groupBy(col("pi")).agg(sum(col("g")).as("v1"))
    val v2 = g
      .join(broadcast(v1.select(col("pi").as("pj"), col("v1"))), Seq("pj"))
      .groupBy(col("pi")).agg(sum(col("g") * col("v1")).as("v2"))
      .cache()
    val canon = v2.orderBy(abs(col("v2")).desc, col("pi")).limit(1)
      .select(when(col("v2") < 0, -1L).otherwise(1L).as("sgn"),
        abs(col("v2")).as("maxabs"))
    v2.crossJoin(broadcast(canon))
      .select(col("pi").cast("int").as("pos"),
        (col("v2") * col("sgn")).as("component"),
        col("maxabs"))
  }

  /** Build-once table of the [[pcaV2]] component — the IVF-index
    * lifecycle applied to the PCA artifact: the corpus Gram pass runs
    * ONCE per (dataset, layout version) under a fingerprinted
    * [[graft.Scratch]] key; both PCA rows (and, in production, every
    * query applying the rotation) read the 64-row parquet. Exactly how
    * a vector store treats its trained PCAMatrix.
    */
  private def pcaComponentTable(s: SparkSession, d: String): String =
    graft.Scratch.ensure(s,
      s"pca_v2_k${KmScale}p${PcaProjShift}_${graft.Scratch.sanitize(d)}_" +
        graft.Scratch.fingerprint(Tables.path(d, "embeddings"))) { dir =>
      pcaV2(s, d).coalesce(1).write.mode("overwrite")
        .parquet(s"$dir/comp")
    } + "/comp"

  /** The per-dim component report of [[pcaV2]]: integer component plus
    * the unit-scaled value (one exactly-rounded IEEE division). */
  private def pcaPower(s: SparkSession, d: String): DataFrame =
    s.read.parquet(pcaComponentTable(s, d))
      .select(col("pos"), col("component"),
        round(when(col("maxabs") === 0, lit(0.0))
          .otherwise(col("component") * lit(1.0) / col("maxabs")), 6)
          .as("unit"))
      .orderBy(col("pos"))

  /** Top-10 corpus vectors by |projection| onto the [[pcaV2]] component —
    * the "what dominates the leading direction" diagnostic (and the
    * projection every PCA dimension-reduction actually applies). Weights
    * are tdiv(component, 10⁴) (|w| ≤ 4.1·10¹¹, so q·w sums stay inside
    * BIGINT); the projection is a map-side broadcast join onto the
    * exploded corpus + one per-vector rollup; the top-10 is a
    * TakeOrderedAndProject, never a global sort.
    */
  private def pcaProject(s: SparkSession, d: String): DataFrame = {
    val w = s.read.parquet(pcaComponentTable(s, d))
      .select(col("pos"), tdiv(col("component"), lit(PcaProjShift)).as("w"))
    val e = emb(s, d).select(col("vec_id"),
        posexplode(transform(col("v"), x => floor(x * lit(KmScale))))
          .as(Seq("pos", "x")))
    val top = e.join(broadcast(w), Seq("pos"))
      .groupBy(col("vec_id"))
      .agg(sum(col("x") * col("w")).as("proj"))
      .orderBy(abs(col("proj")).desc, col("vec_id"))
      .limit(10)
    top.select(
        row_number().over(Window.orderBy(abs(col("proj")).desc,
          col("vec_id"))).as("rnk"),
        col("vec_id"), col("proj"))
      .orderBy(col("rnk"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "cluster_kmeans" -> (clusterKmeans _),
    "emb_quantize_int8" -> embQuantizeInt8 _,
    "emb_pca_power" -> pcaPower _,
    "emb_pca_project" -> pcaProject _,
    "ann_brute_topk" -> bruteTopK _,
    "ann_ivf_topk" -> ivfTopK _,
    "ann_ivf_full_probe" -> ivfFullProbe _,
    "ann_pq_topk" -> (pqTopKGated _),
    "ann_pq_full_rerank" -> pqFullRerank _,
    "dedup_embedding_threshold" -> embeddingThreshold _,
    "dedup_embedding_lsh" -> dedupEmbeddingLsh _,
    "dedup_semantic" -> dedupSemantic _,
    "pipeline_semdedup" -> (pipelineSemdedup _),
    "pipeline_rag_dense" -> (pipelineRagDense _),
    "graph_knn" -> (graphKnn _),
    "graph_knn_multiprobe" -> (graphKnnMultiprobe _),
    "graph_knn_recall" -> (graphKnnRecall _),
    "graph_knn_components" -> (graphKnnComponents _)
  )

  /** Exact cosine top-k in DuckDB — the oracle for the brute row AND for
    * the two approximate-index rows whose configuration makes them exact
    * by construction ([[ivfFullProbe]], [[pqFullRerank]]).
    */
  private val BruteOracleSql = s"""
      SELECT qid, CAST(rnk AS INT) AS rnk, vec_id, cos FROM (
        SELECT q.vec_id AS qid, e.vec_id AS vec_id,
               round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                            CAST(e.embedding AS DOUBLE[])), 6) AS cos,
               row_number() OVER (PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                CAST(e.embedding AS DOUBLE[])), 6) DESC,
                          e.vec_id) AS rnk
        FROM embeddings q, embeddings e
        WHERE q.vec_id < $NQueries AND q.vec_id <> e.vec_id)
      WHERE rnk <= $TopK
      ORDER BY qid, rnk"""

  /** Oracle for the recall-gated approximate rows ([[recallGate]]):
    * n_queries and k are reproduced from the data / the row contract, and
    * the in-Spark recall-floor boolean is asserted literally TRUE — the
    * same gate contract as the sketch rows' error bands.
    */
  private val RecallGateOracleSql = s"""
      SELECT CAST(COUNT(*) AS BIGINT) AS n_queries, CAST($TopK AS INT) AS k,
             TRUE AS recall_ok
      FROM embeddings WHERE vec_id < $NQueries"""

  /** Argmin CASE chain shared by every oracle assignment round — the
    * literal `<=` chain [[kmAssign]] emits, so ties break identically.
    */
  private val KmCaseSql = """CASE WHEN e0 <= e1 AND e0 <= e2 AND e0 <= e3 THEN 0
             WHEN e1 <= e2 AND e1 <= e3 THEN 1
             WHEN e2 <= e3 THEN 2 ELSE 3 END"""

  /** One oracle assignment round vs centroid table `cent`: integer
    * distances (exact, order-free), k-column pivot, argmin + chosen
    * distance. Emits CTEs d{n}, p{n}, a{n}.
    */
  private def kmRoundSql(n: Int, cent: String): String = s"""
      d$n AS (
        SELECT e.vec_id, s.c, CAST(SUM((e.x - s.cx)*(e.x - s.cx)) AS BIGINT) AS d2
        FROM e JOIN $cent s ON e.pos = s.pos GROUP BY e.vec_id, s.c),
      p$n AS (
        SELECT vec_id,
               MIN(CASE WHEN c = 0 THEN d2 END) AS e0,
               MIN(CASE WHEN c = 1 THEN d2 END) AS e1,
               MIN(CASE WHEN c = 2 THEN d2 END) AS e2,
               MIN(CASE WHEN c = 3 THEN d2 END) AS e3
        FROM d$n GROUP BY vec_id),
      a$n AS (
        SELECT vec_id, cluster,
               CASE cluster WHEN 0 THEN e0 WHEN 1 THEN e1 WHEN 2 THEN e2
                            ELSE e3 END AS d2
        FROM (SELECT vec_id, e0, e1, e2, e3, $KmCaseSql AS cluster FROM p$n))"""

  /** One oracle centroid update from assignment a{from} over centroid
    * table `prevCent`: ⌊Σq/n⌋ per (cluster, dim), exact because Σq < 2⁵³
    * keeps the double division exact; empty clusters COALESCE back to the
    * previous centroid (the Spark side's keep-previous convention). Emits
    * CTEs u{n}, s{n}.
    */
  private def kmUpdateSql(n: Int, from: Int, prevCent: String): String = s"""
      u$n AS (
        SELECT a.cluster AS c, e.pos,
               CAST(floor(CAST(SUM(e.x) AS DOUBLE) / COUNT(*)) AS BIGINT) AS cx
        FROM e JOIN a$from a ON e.vec_id = a.vec_id
        GROUP BY a.cluster, e.pos),
      s$n AS (
        SELECT p.c, p.pos, COALESCE(u$n.cx, p.cx) AS cx
        FROM $prevCent p LEFT JOIN u$n ON p.c = u$n.c AND p.pos = u$n.pos)"""

  /** Full relational replay of [[clusterKmeans]]: quantize, seed from the
    * 4 smallest vec_ids, two Lloyd rounds (assign + update), final
    * assignment, sizes. Every value is integer-exact (see the row's
    * scaladoc), so the replay hash-matches bit for bit.
    */
  private val KmOracleSql = s"""
      WITH qv AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS q
        FROM embeddings),
      e AS (
        SELECT vec_id, generate_subscripts(q, 1) AS pos, unnest(q) AS x
        FROM qv),
      seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, q
        FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $KmK)),
      s0 AS (
        SELECT c, generate_subscripts(q, 1) AS pos, unnest(q) AS cx
        FROM seeds),
      ${kmRoundSql(1, "s0")},
      ${kmUpdateSql(1, 1, "s0")},
      ${kmRoundSql(2, "s1")},
      ${kmUpdateSql(2, 2, "s1")},
      ${kmRoundSql(3, "s2")}
      SELECT a3.vec_id, CAST(a3.cluster AS INT) AS cluster, a3.d2,
             n.n_members
      FROM a3 JOIN (SELECT cluster, COUNT(*) AS n_members
                    FROM a3 GROUP BY cluster) n USING (cluster)
      ORDER BY a3.vec_id"""

  /** Shared CTE prefix replaying [[pcaV2]] relationally: quantize, exact
    * integer covariance via tdiv (the `(a - a%b)/b` composite — both
    * engines' `%` is sign-of-dividend, the division is exact), two
    * integer matvecs, sign canonicalization. Ends with CTEs `v2` and `c`.
    */
  private val PcaCteSql = s"""
      WITH qv AS (
        SELECT vec_id, list_transform(embedding,
          x -> CAST(floor(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS q
        FROM embeddings),
      nn AS (SELECT COUNT(*) AS n FROM qv),
      e AS (
        SELECT vec_id, generate_subscripts(q, 1) - 1 AS pos, unnest(q) AS x
        FROM qv),
      sq AS (SELECT pos, SUM(x) AS sq FROM e GROUP BY 1),
      sqq AS (
        SELECT a.pos AS pi, b.pos AS pj, SUM(a.x * b.x) AS sqq
        FROM e a JOIN e b USING (vec_id) GROUP BY 1, 2),
      graw AS (
        SELECT pi, pj, nn.n * sqq.sqq - sa.sq * sb.sq AS gn,
               nn.n * nn.n AS nsq
        FROM sqq JOIN sq sa ON sqq.pi = sa.pos
                 JOIN sq sb ON sqq.pj = sb.pos, nn),
      g AS (
        SELECT pi, pj, CAST((gn - gn % nsq) / nsq AS BIGINT) AS g
        FROM graw),
      v1 AS (SELECT pi, SUM(g) AS v1 FROM g GROUP BY 1),
      v2 AS (
        SELECT g.pi, SUM(g.g * v1.v1) AS v2
        FROM g JOIN v1 ON g.pj = v1.pi GROUP BY 1),
      c AS (
        SELECT CASE WHEN v2 < 0 THEN -1 ELSE 1 END AS sgn,
               abs(v2) AS maxabs
        FROM v2 ORDER BY abs(v2) DESC, pi LIMIT 1)"""

  /** Full relational replay of [[pipelineRagDense]]: the RAG tier's
    * chunk corpus (same packing), letter-profile embeddings, the SAME
    * quantized Lloyd replay as cluster_kmeans fitted over the chunks,
    * the query's letter profile from the same literal, probe argmin,
    * exact re-rank, and the cumulative budget cut. Every stage is
    * integer-exact, so the verdict hash-matches.
    */
  private def ragDenseOracleSql: String = {
    val (cs, st, m) = (TextAnalysis.ChunkSize, TextAnalysis.ChunkStride,
      TextAnalysis.RagKeyMult)
    s"""
      WITH toks AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
               1 + CAST((greatest(len(string_split_regex(trim(text), '\\s+'))
                                    - $cs, 0)
                         + ${st - 1}) // $st AS INT) AS nchunks
        FROM documents),
      chk AS (
        SELECT doc_id, unnest(generate_series(0, nchunks - 1)) AS chunk_id, w
        FROM toks),
      cdocs AS (
        SELECT doc_id * $m + chunk_id AS vec_id,
               array_to_string(
                 list_slice(w, chunk_id * $st + 1,
                            chunk_id * $st + $cs), ' ') AS text
        FROM chk),
      nrm AS (SELECT vec_id, ${TextAnalysis.NormSql} AS norm FROM cdocs),
      qv AS (SELECT vec_id, ${denseQSql("norm")} AS q FROM nrm),
      e AS (
        SELECT vec_id, generate_subscripts(q, 1) AS pos, unnest(q) AS x
        FROM qv),
      seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, q
        FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $KmK)),
      s0 AS (
        SELECT c, generate_subscripts(q, 1) AS pos, unnest(q) AS cx
        FROM seeds),
      ${kmRoundSql(1, "s0")},
      ${kmUpdateSql(1, 1, "s0")},
      ${kmRoundSql(2, "s1")},
      ${kmUpdateSql(2, 2, "s1")},
      ${kmRoundSql(3, "s2")},
      qtext AS (SELECT ${TextAnalysis.NormSql} AS norm
                FROM (SELECT '$DenseQuery' AS text)),
      qvec AS (SELECT generate_subscripts(q, 1) AS pos, unnest(q) AS x
               FROM (SELECT ${denseQSql("norm")} AS q FROM qtext)),
      pq AS (SELECT s.c, CAST(SUM((q.x - s.cx)*(q.x - s.cx)) AS BIGINT) AS d2
             FROM qvec q JOIN s2 s ON q.pos = s.pos GROUP BY s.c),
      probes AS (SELECT c FROM pq ORDER BY d2, c LIMIT $DenseNProbe),
      qd AS (SELECT e.vec_id, CAST(SUM((e.x - q.x)*(e.x - q.x)) AS BIGINT) AS d2
             FROM e JOIN qvec q ON e.pos = q.pos GROUP BY e.vec_id),
      top AS (
        SELECT CAST(row_number() OVER (ORDER BY d2, vec_id) AS INT) AS rnk,
               vec_id, cell, d2
        FROM (SELECT a3.vec_id, CAST(a3.cluster AS INT) AS cell, qd.d2
              FROM a3 JOIN probes p ON a3.cluster = p.c
                      JOIN qd USING (vec_id)
              ORDER BY qd.d2, a3.vec_id LIMIT $DenseK)),
      nt AS (SELECT vec_id,
                    CAST(len(string_split(norm, ' ')) AS BIGINT) AS n_tokens
             FROM nrm),
      cum AS (
        SELECT top.rnk, top.vec_id, top.cell, top.d2, nt.n_tokens,
               CAST(SUM(nt.n_tokens) OVER (ORDER BY top.rnk
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                 AS cum_tokens
        FROM top JOIN nt USING (vec_id))
      SELECT rnk, vec_id // $m AS src_doc,
             CAST(vec_id % $m AS INT) AS chunk_id,
             cell, d2, n_tokens, cum_tokens
      FROM cum WHERE cum_tokens <= ${TextAnalysis.RagBudget} ORDER BY rnk"""
  }

  /** Relational replay of [[knnRanked]] as a CTE chain ending in
    * `ranked` (vec_id, nbr_id, cos, rnk): the cluster_kmeans Lloyd CTEs
    * give the cells, then exact within-cell cosine ranking at the brute
    * tier's rounding. The pair set is Σ|cell|² — cell-bounded by
    * construction, the same bound the engine side rides. Shared by the
    * graph_knn row and the graph_knn_components closure.
    */
  private val KnnCteSql = s"""qv AS (
        SELECT vec_id,
               list_transform(embedding,
                 x -> CAST(floor(CAST(x AS DOUBLE) * $KmScale) AS BIGINT)) AS q
        FROM embeddings),
      e AS (
        SELECT vec_id, generate_subscripts(q, 1) AS pos, unnest(q) AS x
        FROM qv),
      seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, q
        FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $KmK)),
      s0 AS (
        SELECT c, generate_subscripts(q, 1) AS pos, unnest(q) AS cx
        FROM seeds),
      ${kmRoundSql(1, "s0")},
      ${kmUpdateSql(1, 1, "s0")},
      ${kmRoundSql(2, "s1")},
      ${kmUpdateSql(2, 2, "s1")},
      ${kmRoundSql(3, "s2")},
      vv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
             FROM embeddings),
      ranked AS (
        SELECT a.vec_id, b.vec_id AS nbr_id,
               round(list_cosine_similarity(av.v, bv.v), 6) AS cos,
               row_number() OVER (PARTITION BY a.vec_id
                 ORDER BY round(list_cosine_similarity(av.v, bv.v), 6) DESC,
                          b.vec_id) AS rnk
        FROM a3 a JOIN a3 b ON a.cluster = b.cluster
                           AND a.vec_id <> b.vec_id
                  JOIN vv av ON av.vec_id = a.vec_id
                  JOIN vv bv ON bv.vec_id = b.vec_id)"""

  private val KnnOracleSql = s"""
      WITH $KnnCteSql
      SELECT vec_id, CAST(rnk AS INT) AS rnk, nbr_id, cos
      FROM ranked WHERE rnk <= $KnnK
      ORDER BY vec_id, rnk"""

  /** Replay of [[graphKnnMultiprobe]]: the same Lloyd CTE chain, each
    * vector's top-[[DenseNProbe]] cells ranked straight off the d3
    * distance table the chain already materializes (same (d2, cell)
    * tie-break), shared-cell pairing, exact ranking. The single-probe
    * `ranked` CTE in the shared prefix is simply unreferenced here.
    */
  private val KnnMpCteSql = s"""pr AS (
        SELECT vec_id, c AS cell FROM (
          SELECT vec_id, c,
                 row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2, c) AS prnk
          FROM d3)
        WHERE prnk <= $DenseNProbe),
      cand AS (
        SELECT DISTINCT a.vec_id, b.vec_id AS nbr_id
        FROM pr a JOIN pr b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      mranked AS (
        SELECT c.vec_id, c.nbr_id,
               round(list_cosine_similarity(av.v, bv.v), 6) AS cos,
               row_number() OVER (PARTITION BY c.vec_id
                 ORDER BY round(list_cosine_similarity(av.v, bv.v), 6) DESC,
                          c.nbr_id) AS rnk
        FROM cand c JOIN vv av ON av.vec_id = c.vec_id
                    JOIN vv bv ON bv.vec_id = c.nbr_id)"""

  private val KnnMultiprobeOracleSql = s"""
      WITH $KnnCteSql,
      $KnnMpCteSql
      SELECT vec_id, CAST(rnk AS INT) AS rnk, nbr_id, cos
      FROM mranked WHERE rnk <= $KnnK
      ORDER BY vec_id, rnk"""

  /** Replay of [[graphKnnRecall]]: brute lists as a CTE, both k-NN
    * chains, hit joins, the same n/50 division — the recall VALUE
    * hash-matches, not just the boolean.
    */
  private val KnnRecallOracleSql = s"""
      WITH $KnnCteSql,
      $KnnMpCteSql,
      brute AS ($BruteOracleSql),
      kn AS (SELECT vec_id AS qid, nbr_id FROM ranked
             WHERE rnk <= $KnnK AND vec_id < $NQueries),
      mp AS (SELECT vec_id AS qid, nbr_id FROM mranked
             WHERE rnk <= $KnnK AND vec_id < $NQueries),
      rs AS (
        SELECT CAST(COUNT(DISTINCT b.qid) AS BIGINT) AS n_queries,
               round(1.0 * CAST(SUM(CASE WHEN k.nbr_id IS NOT NULL
                                    THEN 1 ELSE 0 END) AS BIGINT)
                     / COUNT(*), 6)
                 AS recall
        FROM brute b LEFT JOIN kn k
          ON b.qid = k.qid AND b.vec_id = k.nbr_id),
      rm AS (
        SELECT CAST(COUNT(DISTINCT b.qid) AS BIGINT) AS n_queries,
               round(1.0 * CAST(SUM(CASE WHEN m.nbr_id IS NOT NULL
                                    THEN 1 ELSE 0 END) AS BIGINT)
                     / COUNT(*), 6)
                 AS recall
        FROM brute b LEFT JOIN mp m
          ON b.qid = m.qid AND b.vec_id = m.nbr_id)
      SELECT 'multiprobe' AS tier, n_queries, CAST($KnnK AS INT) AS k,
             recall, recall >= $KnnRecallFloorMulti AS recall_ok FROM rm
      UNION ALL
      SELECT 'single' AS tier, n_queries, CAST($KnnK AS INT) AS k,
             recall, recall >= $KnnRecallFloorSingle AS recall_ok FROM rs
      ORDER BY tier"""

  /** Replay of [[graphKnnComponents]]: the k-NN CTEs, the cos-floor edge
    * carve, then transitive closure by recursive CTE (the dedup_clusters
    * convention — tiny at oracle SF; the Spark side is the distributed
    * pointer-jumping form).
    */
  private val KnnComponentsOracleSql = s"""
      WITH RECURSIVE $KnnCteSql,
      pairs AS (
        SELECT LEAST(vec_id, nbr_id) AS pa, GREATEST(vec_id, nbr_id) AS pb
        FROM ranked WHERE rnk <= $KnnK AND cos >= $KnnEdgeT),
      -- MATERIALIZED is load-bearing (the pagerank-oracle lesson): DuckDB
      -- inlines CTEs per reference, and the recursive reach would
      -- re-instantiate the whole k-NN chain on every closure layer
      -- (measured 33.5 s -> ~4 s at sf0.1)
      edges AS MATERIALIZED (SELECT DISTINCT pa AS u, pb AS v FROM pairs
                UNION SELECT DISTINCT pb, pa FROM pairs),
      reach(node, r) AS (
        SELECT u, v FROM edges
        UNION
        SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
      labels AS (
        SELECT node, MIN(r) AS cluster FROM (
          SELECT node, r FROM reach
          UNION ALL
          SELECT DISTINCT u, u FROM edges) t
        GROUP BY node)
      SELECT cluster, COUNT(*) AS n_members
      FROM labels GROUP BY cluster ORDER BY cluster"""

  val oracles: Map[String, String] = Map(
    "cluster_kmeans" -> KmOracleSql,
    "pipeline_rag_dense" -> ragDenseOracleSql,
    "graph_knn" -> KnnOracleSql,
    "graph_knn_multiprobe" -> KnnMultiprobeOracleSql,
    "graph_knn_recall" -> KnnRecallOracleSql,
    "graph_knn_components" -> KnnComponentsOracleSql,
    // the planted corpus rebuilt, the SAME quantized Lloyd replay as
    // cluster_kmeans fitted over it, then the UNCOLLAPSED greedy
    // within-cluster drop rule (b drops iff any a < b in its cluster has
    // cos >= t — the engine's rep-collapse is output-equivalent, see the
    // pipelineSemdedup scaladoc) and the per-cluster funnel. n² oracle:
    // the within-cluster pair set is explicit here; the engine side
    // stays collapse-bounded.
    "pipeline_semdedup" -> s"""
      WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      copies AS (
        SELECT vec_id + $LshCopyOffset AS vec_id,
               [v[i]*0.9 + v[len(v)-i+1]*0.1 FOR i IN range(1, len(v)+1)] AS v
        FROM base),
      corpus AS (SELECT * FROM base UNION ALL SELECT * FROM copies),
      qv AS (
        SELECT vec_id,
               list_transform(v, x -> CAST(floor(x * $KmScale) AS BIGINT)) AS q
        FROM corpus),
      e AS (
        SELECT vec_id, generate_subscripts(q, 1) AS pos, unnest(q) AS x
        FROM qv),
      seeds AS (
        SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS c, q
        FROM (SELECT vec_id, q FROM qv ORDER BY vec_id LIMIT $KmK)),
      s0 AS (
        SELECT c, generate_subscripts(q, 1) AS pos, unnest(q) AS cx
        FROM seeds),
      ${kmRoundSql(1, "s0")},
      ${kmUpdateSql(1, 1, "s0")},
      ${kmRoundSql(2, "s1")},
      ${kmUpdateSql(2, 2, "s1")},
      ${kmRoundSql(3, "s2")},
      dropped AS (
        SELECT DISTINCT cb.vec_id AS vec_id
        FROM corpus a
        JOIN a3 ca ON ca.vec_id = a.vec_id
        JOIN a3 cb ON cb.cluster = ca.cluster AND cb.vec_id > ca.vec_id
        JOIN corpus b ON b.vec_id = cb.vec_id
        WHERE list_cosine_similarity(a.v, b.v) >= $LshThreshold)
      SELECT CAST(a3.cluster AS INT) AS cluster,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_dropped,
             CAST(COUNT(*) - SUM(CASE WHEN d.vec_id IS NOT NULL THEN 1
                                      ELSE 0 END) AS BIGINT) AS n_kept
      FROM a3 LEFT JOIN dropped d ON a3.vec_id = d.vec_id
      GROUP BY a3.cluster
      ORDER BY cluster""",
    "emb_pca_power" -> s"""
      $PcaCteSql
      SELECT CAST(v2.pi AS INT) AS pos,
             CAST(v2.v2 * c.sgn AS BIGINT) AS component,
             round(CASE WHEN c.maxabs = 0 THEN 0.0
                        ELSE v2.v2 * c.sgn * 1.0 / c.maxabs END, 6) AS unit
      FROM v2, c ORDER BY pos""",
    "emb_pca_project" -> s"""
      $PcaCteSql,
      w AS (
        SELECT pos,
               CAST((wv - wv % $PcaProjShift) / $PcaProjShift AS BIGINT) AS w
        FROM (SELECT v2.pi AS pos, v2.v2 * c.sgn AS wv FROM v2, c)),
      pr AS (
        SELECT e.vec_id, CAST(SUM(e.x * w.w) AS BIGINT) AS proj
        FROM e JOIN w ON e.pos = w.pos GROUP BY 1)
      SELECT CAST(row_number() OVER (ORDER BY abs(proj) DESC, vec_id)
               AS INT) AS rnk,
             vec_id, proj
      FROM (SELECT * FROM pr ORDER BY abs(proj) DESC, vec_id LIMIT 10)
      ORDER BY rnk""",
    // same double-widened values, same IEEE division, same floor — the
    // whole int8 lattice replayed componentwise
    "emb_quantize_int8" -> """
      WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               list_max(list_transform(CAST(embedding AS DOUBLE[]),
                 x -> abs(x))) AS ma
        FROM embeddings),
      qz AS (
        SELECT vec_id, v,
               CASE WHEN ma = 0 THEN list_transform(v, x -> CAST(0 AS BIGINT))
                    ELSE list_transform(v,
                      x -> CAST(floor(x * 127.0 / ma) AS BIGINT)) END AS q
        FROM base)
      SELECT vec_id,
             CAST(len(v) AS INT) AS n_dims,
             CAST(list_sum(q) AS BIGINT) AS sum_q,
             CAST(list_min(q) AS INT) AS min_q,
             CAST(list_max(q) AS INT) AS max_q,
             CAST(len(list_filter(q, x -> abs(x) = 127)) AS INT) AS n_sat
      FROM qz ORDER BY vec_id""",
    "ann_brute_topk" -> BruteOracleSql,
    "ann_ivf_topk" -> RecallGateOracleSql,
    "ann_pq_topk" -> RecallGateOracleSql,
    "ann_ivf_full_probe" -> BruteOracleSql,
    "ann_pq_full_rerank" -> BruteOracleSql,
    "dedup_embedding_threshold" -> s"""
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
        AND list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])) >= $CosThreshold
      ORDER BY vec_a, vec_b""",
    // the planted corpus rebuilt with identical elementwise IEEE ops, then
    // the EXACT threshold pairs over it: green iff the LSH tier's recall
    // is 1 on this geometry AND its verify keeps precision exact
    "dedup_embedding_lsh" -> s"""
      WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      copies AS (
        SELECT vec_id + $LshCopyOffset AS vec_id,
               [v[i]*0.9 + v[len(v)-i+1]*0.1 FOR i IN range(1, len(v)+1)] AS v
        FROM base),
      corpus AS (SELECT * FROM base UNION ALL SELECT * FROM copies)
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(a.v, b.v), 6) AS cos
      FROM corpus a, corpus b
      WHERE a.vec_id < b.vec_id
        AND list_cosine_similarity(a.v, b.v) >= $LshThreshold
      ORDER BY vec_a, vec_b""",
    // the planted corpus rebuilt, the EXACT threshold pair set over it,
    // then the component closure (same recursive-CTE pattern as the
    // dedup_clusters oracle) and the min-id keep rule — the full semantic
    // dedup verdict replayed in SQL
    "dedup_semantic" -> s"""
      WITH RECURSIVE base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      copies AS (
        SELECT vec_id + $LshCopyOffset AS vec_id,
               [v[i]*0.9 + v[len(v)-i+1]*0.1 FOR i IN range(1, len(v)+1)] AS v
        FROM base),
      corpus AS (SELECT * FROM base UNION ALL SELECT * FROM copies),
      pairs AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM corpus a, corpus b
        WHERE a.vec_id < b.vec_id
          AND list_cosine_similarity(a.v, b.v) >= $LshThreshold),
      edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
                UNION ALL SELECT vec_b, vec_a FROM pairs),
      reach(node, r) AS (
        SELECT u, v FROM edges
        UNION
        SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
      labels AS (
        SELECT node, MIN(r) AS cluster FROM (
          SELECT node, r FROM reach
          UNION ALL
          SELECT DISTINCT u, u FROM edges) t
        GROUP BY node)
      SELECT c.vec_id,
             COALESCE(l.cluster, c.vec_id) AS cluster,
             (COALESCE(l.cluster, c.vec_id) = c.vec_id) AS kept
      FROM corpus c LEFT JOIN labels l ON c.vec_id = l.node
      ORDER BY c.vec_id"""
  ).map { case (k, v) => k -> v.stripMargin.trim }
}
