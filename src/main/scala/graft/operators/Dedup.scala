package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.functions.{GraftFunctions, TextFunctions => TF}

/** Deduplication operators over `documents` / `embeddings` — the core of a
  * training-data pipeline at 100 TB (beyond the reference surface;
  * SURVEY.md §7.1 M7).
  *
  * Scale notes (the designs, not just the numbers):
  *  - Exact dedup is a hash groupBy — one shuffle on the normalized-text
  *    hash, map-side partial aggregation.
  *  - Exact n-gram Jaccard uses a *prefix-filtered inverted index*: under a
  *    rarest-first global shingle order, a pair with J ≥ t shares one of
  *    each side's first floor((1-t)·|sh|)+1 shingles, so only prefixes are
  *    indexed and joined; candidates are verified exactly. A plain inverted
  *    join is Σ df(s)² — quadratic on hot shingles; prefix filtering keeps
  *    it near-linear.
  *  - MinHash+LSH is the 100 TB path: constant-size signatures (64 hashes),
  *    band-bucket join (b=32, r=2 → P[miss | J=0.8] = (1-0.64)^32 ≈ 1e-14)
  *    produces candidates, which are exactly verified. Output therefore
  *    equals the exact-Jaccard operator's (same oracle) with near-certainty,
  *    while scaling as candidates instead of pairs.
  *  - SimHash near-dup uses 4×16-bit band blocking: by pigeonhole, hamming
  *    distance ≤ 3 on 64 bits guarantees one intact quarter, so blocking is
  *    *exact* for the ≤3 threshold — no candidate loss.
  *  - Embedding near-dup is brute-force top-k here (the oracle-able
  *    baseline); the LSH/IVF scale path lives in [[Similarity]].
  */
object Dedup {

  private[graft] val JaccardThreshold = 0.8
  private[graft] val ShingleN = 3

  /** Target rows per reduce task for driver-orchestrated ITERATION loops
    * ([[connectedComponents]]): loop frames are edge/node-sized skinny
    * rows (two longs), so 4M rows ≈ 64–128 MB of shuffle per task —
    * the guide's 100 MB–1 GB partition band. Not a local[32] tuning: the
    * loop width is nEdges/this, clamped to the session's shuffle width,
    * so it scales with the data on any cluster.
    */
  private[graft] val LoopRowsPerTask = 4L * 1000 * 1000
  private def docs(s: SparkSession, d: String) = Tables.load(s, d, "documents")

  /** Exact-integer ppjoin prefix divisor for a similarity threshold t:
    * the prefix bound |x| − ⌈t·|x|⌉ + 1 equals `sz div D + 1` with
    * D = 1/(1−t) whenever D is integral — computed HERE from t (with the
    * integrality requirement enforced) instead of hardcoding 5/10 at the
    * filter sites, so changing a threshold cannot silently void the
    * recall guarantee. The float spelling floor((1−t)·sz)+1 is wrong:
    * (1−0.8) is 0.19999…, under-counting by one whenever t·sz is
    * integral.
    */
  private def prefixDivisor(t: Double): Int = {
    val d = 1.0 / (1.0 - t)
    val r = math.round(d)
    require(math.abs(d - r) < 1e-9,
      s"ppjoin prefix bound needs integral 1/(1-t); got t=$t (1/(1-t)=$d) — " +
        "use the exact-decimal ceil form for non-integral thresholds")
    r.toInt
  }

  /** doc_id → distinct 3-word shingle set (native codegen'd expression;
    * the pure-built-in composition [[TF.wordShingles]] is the portable
    * fallback but evaluates higher-order lambdas interpreted).
    */
  private def shingleSets(s: SparkSession, d: String): DataFrame = {
    docs(s, d).select(col("doc_id"),
      GraftFunctions.word_shingles(TF.words(col("text")), ShingleN).as("sh"))
  }

  // -- exact -------------------------------------------------------------

  /** Exact dedup: hash-groupBy on normalized text; reports corpus stats
    * (survivors = one doc per distinct normalized text).
    */
  private def dedupExact(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(TF.normText(col("text")).as("norm"), col("doc_id"))
      .groupBy(col("norm")).agg(min(col("doc_id")).as("keeper"),
                                count(lit(1)).as("grp"))
      .select(count(lit(1)).as("n_unique"),
              sum(col("grp")).cast("long").as("n_docs"),
              (sum(col("grp")) - count(lit(1))).cast("long").as("n_dupes"))

  // -- exact n-gram Jaccard via inverted index ---------------------------

  private def jaccardPairs(s: SparkSession, d: String): DataFrame = {
    // Exact-duplicate pre-collapse: identical normalized text ⇒ identical
    // shingle set ⇒ identical Jaccard against EVERYTHING (and exactly 1.0
    // within the group), so the candidate/verify machinery only ever needs
    // one representative per distinct text; member pairs are re-expanded
    // afterwards from the group table. This is the standard corpus-
    // pipeline ordering (exact dedup before near-dup) made internal to the
    // operator: replica-heavy corpora multiply every posting list, so
    // skipping the collapse turns the prefix index's Σdf² term quadratic
    // in the replication factor (measured: the ×10-replica SF≈1 canary
    // dropped 59.4 s → expansion-bound seconds with the collapse). The
    // md5 group key keeps the groupBy shuffle skinny (16 bytes, not the
    // document); a cross-text collision needs 2^-128.
    val keyed = docs(s, d).select(col("doc_id"),
      md5(TF.normText(col("text"))).as("gk"))
    val groups = keyed.groupBy(col("gk")).agg(min(col("doc_id")).as("rep"))
    val members = keyed.join(groups, Seq("gk"))
    val sh = shingleSets(s, d)
      .join(groups.select(col("rep").as("doc_id")), Seq("doc_id"))
      .cache()
    // Prefix filtering (Chaudhuri et al., ICDE 2006 / ppjoin): under a
    // global shingle order (rarest first), any pair with J ≥ t must share
    // one of each member's first floor((1-t)·|sh|)+1 shingles. Indexing
    // only those prefixes keeps the self-join linear-ish in corpus size
    // even when common shingles have huge document frequency (a plain
    // inverted-index join is Σ df(s)² — quadratic blowup on hot shingles).
    // shingles travel as xxhash64 longs through the index machinery: the
    // inverted-index shuffles move 8 bytes per entry instead of ~25-char
    // strings. A cross-document collision only ADDs a candidate pair
    // (removed by the exact string-set verification below); an IN-document
    // collision could in principle shorten a doc's effective prefix and
    // lose a candidate, but that needs two of one doc's shingles to share
    // a 64-bit hash (~2^-64 per pair) — negligible against the banding
    // miss probability already accepted in the MinHash tier.
    val inv = sh.select(col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s0"))
      .select(col("doc_id"), col("sz"), xxhash64(col("s0")).as("s"))
    val dfreq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("s"))
    val prefix = inv.join(dfreq, Seq("s"))
      .withColumn("rk", row_number().over(w))
      // |x| − ⌈t·|x|⌉ + 1 in EXACT integer form via [[prefixDivisor]]
      // (sz div 5 for t = 0.8); see its scaladoc for the float trap
      .filter(col("rk") <= expr(s"sz div ${prefixDivisor(JaccardThreshold)}") + 1)
      .select(col("doc_id"), col("sz"), col("s"))
    // length-ratio companion prune (the joinFuzzy filter, r18 back-ported
    // to the self-join): J ≥ t ⟹ t·max(|a|,|b|) ≤ min(|a|,|b|), exact in
    // integers as 4·sz ≤ 5·sz' both ways for t = 0.8. Pure pruning BEFORE
    // the distinct and the verify joins — the exact pair set is unchanged,
    // but candidates that could never verify stop paying the distinct
    // exchange and the per-pair array_intersect (the row's dominant
    // per-task cost: ~116 task-seconds at sf0.1 before the prune).
    val candidates = prefix
        .select(col("doc_id").as("doc_a"), col("sz").as("sza"), col("s"))
      .join(prefix
        .select(col("doc_id").as("doc_b"), col("sz").as("szb"), col("s")),
        Seq("s"))
      .filter(col("doc_a") < col("doc_b") &&
              col("sza") * 4 <= col("szb") * 5 &&
              col("szb") * 4 <= col("sza") * 5)
      .select(col("doc_a"), col("doc_b")).distinct()
    // exact verification on the (cached) shingle sets. Measured alternative
    // (sf0.1, 8 cores, median of 3): carrying sh_a as a payload through the
    // prefix self-join to drop one of these two joins benches SLOWER
    // (3.23 s vs 2.67 s) — the payload-attach join ahead of the candidate
    // explosion costs more than the verify join it saves, and inflating the
    // self-join's shuffle rows by an array payload is also the wrong trade
    // at 100 TB. Keeping the two skinny id-keyed joins is the faster shape.
    val repPairs = candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", lit(1.0) * col("common") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"), col("jaccard"))
    // re-expand representative pairs to member pairs (groups are disjoint,
    // so least/greatest canonicalization never double-counts), and emit
    // the intra-group pairs — identical sets, Jaccard exactly 1.0 — for
    // every ≥3-word duplicate group. Both stages are output-bound: they
    // produce exactly the rows the exact pair set contains, no more.
    val cross = repPairs
      .join(members.select(col("rep").as("rep_a"), col("doc_id").as("ida")),
        Seq("rep_a"))
      .join(members.select(col("rep").as("rep_b"), col("doc_id").as("idb")),
        Seq("rep_b"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
              greatest(col("ida"), col("idb")).as("doc_b"), col("jaccard"))
    // only docs that shingle (≥3 words) participate, same as the oracle
    val withSh = members
      .join(sh.filter(size(col("sh")) > 0).select(col("doc_id").as("rep")),
        Seq("rep"), "left_semi")
    val intra = withSh.select(col("gk"), col("doc_id").as("ida"))
      .join(withSh.select(col("gk"), col("doc_id").as("idb")), Seq("gk"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        lit(1.0).as("jaccard"))
    cross.unionByName(intra)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // -- fuzzy join (two-relation similarity join) -------------------------

  /** Fuzzy JOIN between two DISTINCT relations — the set-similarity join
    * R ⋈_{J≥t} S (Chaudhuri et al., ICDE 2006), as opposed to the dedup
    * tier's self-joins: match records of one table to similar records of
    * another (catalog reconciliation, submitted-vs-canonical titles,
    * cross-vendor entity matching). Relations here are the even- vs
    * odd-numbered document sources — disjoint by construction, and the
    * fixture's near-dup structure is overwhelmingly cross-source.
    *
    * The cross-relation prefix filter needs ONE global rarest-first
    * shingle order spanning BOTH sides (document frequency computed over
    * the union) — per-side orders would void the guarantee that a J ≥ t
    * pair shares a prefix shingle. Candidates additionally pass the
    * standard length-ratio companion prune (J ≥ t ⟹ t·max(|x|,|y|) ≤
    * min(|x|,|y|), exact in integers as 4·sz ≤ 5·sz' both ways for
    * t = 0.8) before the distinct — pure pruning ahead of verification,
    * so the result is still the exact J ≥ t pair set. At 100 TB the
    * shapes are the dedup tier's: 8-byte hashed shingles through the
    * index shuffles, candidates keyed on the shingle so hot postings
    * split, exact verification only on survivors.
    */
  private def joinFuzzy(s: SparkSession, d: String): DataFrame =
    joinFuzzyCore(s, d).orderBy(col("doc_a"), col("doc_b"))

  /** The unsorted pair set behind [[joinFuzzy]] — split out (r18) so that
    * [[joinFuzzyBest]]'s groupBy does not consume the presentation sort:
    * an orderBy feeding an aggregate is a full range exchange + sort the
    * aggregate's own hash exchange immediately discards.
    */
  private def joinFuzzyCore(s: SparkSession, d: String): DataFrame = {
    val par = pmod(regexp_replace(col("source"), "^src", "")
      .cast("int"), lit(2))
    // exact-duplicate pre-collapse PER SIDE (the [[jaccardPairs]]
    // ordering made cross-relational): on a replica-heavy corpus every
    // identical copy multiplies both sides' posting lists, so the
    // candidate join's Σ df_L·df_R term grows replica² without it; with
    // it the index machinery runs on distinct texts and only the final
    // member re-expansion — the join's semantically required output —
    // scales with replication
    val keyed = docs(s, d).select(col("doc_id"), par.as("par"),
      md5(TF.normText(col("text"))).as("gk"))
    val groups = keyed.groupBy(col("par"), col("gk"))
      .agg(min(col("doc_id")).as("rep"))
    val members = keyed.join(groups, Seq("par", "gk"))
    val base = docs(s, d)
      .select(col("doc_id"), par.as("par"),
        GraftFunctions.word_shingles(TF.words(col("text")), ShingleN)
          .as("sh"))
      .filter(size(col("sh")) > 0)
      .join(groups.select(col("rep").as("doc_id")), Seq("doc_id"),
        "left_semi")
      .cache()
    val inv = base
      .select(col("par"), col("doc_id"), size(col("sh")).as("sz"),
        explode(col("sh")).as("s0"))
      .select(col("par"), col("doc_id"), col("sz"),
        xxhash64(col("s0")).as("s"))
    val dfreq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("par"), col("doc_id"))
      .orderBy(col("df").asc, col("s"))
    val prefix = inv.join(dfreq, Seq("s"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <=
        expr(s"sz div ${prefixDivisor(JaccardThreshold)}") + 1)
    val candidates = prefix.filter(col("par") === 0)
        .select(col("doc_id").as("rep_a"), col("sz").as("sza"), col("s"))
      .join(prefix.filter(col("par") === 1)
        .select(col("doc_id").as("rep_b"), col("sz").as("szb"), col("s")),
        Seq("s"))
      .filter(col("sza") * 4 <= col("szb") * 5 &&
              col("szb") * 4 <= col("sza") * 5)
      .select(col("rep_a"), col("rep_b")).distinct()
    val repPairs = candidates
      .join(base.select(col("doc_id").as("rep_a"), col("sh").as("sh_a")),
        Seq("rep_a"))
      .join(base.select(col("doc_id").as("rep_b"), col("sh").as("sh_b")),
        Seq("rep_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", lit(1.0) * col("common") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("rep_a"), col("rep_b"), col("jaccard"))
    // re-expand representative pairs to member pairs on BOTH sides —
    // output-bound: exactly the rows the exact cross-relation pair set
    // contains
    repPairs
      .join(members.filter(col("par") === 0)
        .select(col("rep").as("rep_a"), col("doc_id").as("doc_a")),
        Seq("rep_a"))
      .join(members.filter(col("par") === 1)
        .select(col("rep").as("rep_b"), col("doc_id").as("doc_b")),
        Seq("rep_b"))
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** Best-match variant of [[joinFuzzy]] — the ENTITY-LINKING shape: for
    * every left record with at least one J ≥ t partner, exactly its best
    * right-side match (max Jaccard, ties to the smallest doc_b). The
    * reduction is a TWO-PHASE max_by over the exact pair set — one
    * candidate per map split per doc_a before the shuffle, never a
    * per-key sort — and the (jaccard, −doc_b) struct ordering is total
    * within a group because doc_b is unique there.
    */
  private def joinFuzzyBest(s: SparkSession, d: String): DataFrame =
    joinFuzzyCore(s, d)
      .groupBy(col("doc_a"))
      .agg(
        max_by(struct(col("doc_b"), col("jaccard")),
          struct(col("jaccard"), (-col("doc_b")).as("nb"))).as("m"),
        count(lit(1)).as("n_matches"))
      .select(col("doc_a"), col("m.doc_b").as("doc_b"),
        col("m.jaccard").as("jaccard"), col("n_matches"))
      .orderBy(col("doc_a"))

  // -- MinHash + LSH -----------------------------------------------------

  private val MinhashK = 64
  private val Bands = 32 // r = 2 rows per band

  /** (doc_id, band, h1, h2) band-bucket keys of each document's MinHash
    * signature — shared by the self-join pair query and the asymmetric
    * incremental query.
    */
  private[graft] def bandKeys(sh: DataFrame): DataFrame = {
    val sig = sh.select(col("doc_id"),
      GraftFunctions.minhash64(col("sh"), MinhashK).as("mh"))
    // band-bucket keys: (band index, the band's r signature values)
    sig.select(col("doc_id"),
        explode(transform(sequence(lit(0), lit(Bands - 1)), j =>
          struct(j.as("band"),
                 element_at(col("mh"), j * 2 + 1).as("h1"),
                 element_at(col("mh"), j * 2 + 2).as("h2")))).as("bk"))
      .select(col("doc_id"), col("bk.band"), col("bk.h1"), col("bk.h2"))
  }

  /** Verified near-dup pairs via MinHash banding + exact Jaccard check —
    * shared by [[minhashLsh]] (the pair query) and [[dedupClusters]].
    * Also returns a release thunk that (blocking-)unpersists the shared
    * shingle cache; callers that drive actions eagerly (dedupClusters)
    * invoke it the moment their derived data is materialized, lazy callers
    * leave release to the session owner ([[graft.Caches.releaseAll]]).
    */
  private def minhashVerifiedPairsReleasable(
      s: SparkSession, d: String): (DataFrame, () => Unit) = {
    // Exact-duplicate pre-collapse, same contract as [[jaccardPairs]]:
    // identical normalized text ⇒ identical shingle set ⇒ identical
    // MinHash signature, so banding is deterministic across a duplicate
    // group — the rep pair is band-found iff every member pair would be,
    // and intra-group pairs always collide (every band) at Jaccard
    // exactly 1.0. On a replica-heavy corpus the collapse divides every
    // band bucket by the replication factor r, shrinking the self-join's
    // Σ|bucket|² candidates and the array-payload verify joins r²-fold;
    // the member re-expansion afterwards is output-bound (exactly the
    // pair rows the uncollapsed tier emits, no more).
    val keyed = docs(s, d).select(col("doc_id"),
      md5(TF.normText(col("text"))).as("gk"))
    val groups = keyed.groupBy(col("gk")).agg(min(col("doc_id")).as("rep"))
    val members = keyed.join(groups, Seq("gk"))
    val sh = shingleSets(s, d).filter(size(col("sh")) > 0)
      .join(groups.select(col("rep").as("doc_id")), Seq("doc_id"), "left_semi")
      .cache()
    val bands = bandKeys(sh)
    val candidates = bands.select(col("doc_id").as("doc_a"), col("band"),
        col("h1"), col("h2"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("h1"),
        col("h2")), Seq("band", "h1", "h2"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    // exact verification of candidates (array_intersect on shingle sets)
    val repPairs = candidates
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", lit(1.0) * col("common") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("doc_a").as("rep_a"), col("doc_b").as("rep_b"), col("jaccard"))
    // re-expand representative pairs to member pairs; groups are disjoint
    // so least/greatest canonicalization never double-counts
    val cross = repPairs
      .join(members.select(col("rep").as("rep_a"), col("doc_id").as("ida")),
        Seq("rep_a"))
      .join(members.select(col("rep").as("rep_b"), col("doc_id").as("idb")),
        Seq("rep_b"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
              greatest(col("ida"), col("idb")).as("doc_b"), col("jaccard"))
    // intra-group pairs: only docs that shingle (≥3 words) participate,
    // same as the uncollapsed tier's size(sh) > 0 screen
    val withSh = members
      .join(sh.select(col("doc_id").as("rep")), Seq("rep"), "left_semi")
    val intra = withSh.select(col("gk"), col("doc_id").as("ida"))
      .join(withSh.select(col("gk"), col("doc_id").as("idb")), Seq("gk"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        lit(1.0).as("jaccard"))
    (cross.unionByName(intra),
      () => { sh.unpersist(blocking = true); () })
  }

  private def minhashLsh(s: SparkSession, d: String): DataFrame =
    minhashVerifiedPairsReleasable(s, d)._1.orderBy(col("doc_a"), col("doc_b"))

  /** Max shingle count of the exact-paired short stratum (words ≤ 12). */
  private val EditShortMaxSh = 10

  /** Edit-distance near-dup pairs — the character-level distance family
    * (OCR noise, small in-place edits) next to the set-based Jaccard
    * tiers: MinHash band candidates, then EXACT `levenshtein ≤ K` verify
    * with the `|len(a)−len(b)| ≤ K` lower bound screened first (edit
    * distance can never beat the length gap, and the length compare is
    * O(1) against the O(n·m) DP).
    *
    * Recall, stated honestly (an r16 review tightened the original
    * blanket "near-identical shingle sets" claim): e word-level edits
    * change ≤ 3e of a doc's m 3-shingles per side, so the pair's Jaccard
    * is ≥ (m−3e)/(m+3e) and the 32×2 banding misses with probability
    * (1−J²)³² — ≤1e-23 at the fixture's observed J ≥ 0.9, but NOT small
    * when m itself is small: on a 10-shingle doc a single edit already
    * drops J toward 0.5, and disjoint-shingle short pairs would never
    * band at all. The SHORT-SHINGLED stratum (1 ≤ m ≤ [[EditShortMaxSh]])
    * therefore bypasses banding entirely: exact length-screened pairing
    * against every shingled doc, the [[dedupEditDistance]] tiny branch's
    * shape one stratum up. Banding serves only LONG×LONG pairs, where
    * the bound above is strong for the clustered-edit geometry this
    * operator targets (scattered adversarial edits on barely-long docs
    * remain a documented recall contract of the banding tier — the fully
    * exact alternative, the char-q-gram PPJoin with overlap bound
    * |Q|−K·q, ships as [[dedupEditQgram]] since r17; its spec exhibits a
    * zero-shingle-jaccard pair this tier provably misses and the q-gram
    * tier finds). The three branches partition
    * the pair space (tiny×any / short×shingled / long×long), so the
    * union never double-counts. The oracle recomputes the pair set
    * exactly from the length-screened cross join. At 100 TB the banding
    * does what it does for Jaccard — candidates, never pairs²; the
    * tiny/short strata stay blocking-bounded there (the bucket join
    * shuffles; nothing stratum-sized is ever broadcast unconditionally —
    * AQE converts when the stratum is actually small).
    */
  private def dedupEditDistance(s: SparkSession, d: String): DataFrame = {
    val K = 10
    // Exact-duplicate pre-collapse (the jaccard/minhash tier contract,
    // completed here by the r16 review): lev is a function of the
    // NORMALIZED text, so identical-norm docs form an equivalence class —
    // one rep per class rides the banding/short/tiny machinery below,
    // cross-class member pairs inherit their rep pair's distance, and
    // intra-class pairs are lev = 0 ≤ K by definition. On an r-replica
    // corpus this divides every band bucket and both exact strata's
    // broadcast sides by r and the verify work by r².
    val keyed = docs(s, d).select(col("doc_id"),
      md5(TF.normText(col("text"))).as("gk"))
    // shared subtrees are cached like every sibling tier's (the lazy-
    // builder contract — released by the session owner via
    // Caches.releaseAll): groups feeds the semi-joins AND both expansion
    // joins, members is read 4×, shAll drives three strata, and n backs
    // every verify side — uncached, each reference re-runs the corpus
    // scan + normText/md5/shingle kernels (r16 review)
    val groups = keyed.groupBy(col("gk")).agg(min(col("doc_id")).as("rep"))
      .cache()
    val members = keyed.join(groups, Seq("gk")).cache()
    val repIds = groups.select(col("rep").as("doc_id"))
    val shAll = shingleSets(s, d).join(repIds, Seq("doc_id"), "left_semi")
      .cache()
    val sh = shAll.filter(size(col("sh")) > EditShortMaxSh)
    val bands = bandKeys(sh)
    val candidates = bands.select(col("doc_id").as("doc_a"), col("band"),
        col("h1"), col("h2"))
      .join(bands.select(col("doc_id").as("doc_b"), col("band"), col("h1"),
        col("h2")), Seq("band", "h1", "h2"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    val n = docs(s, d).select(col("doc_id"), TF.normText(col("text")).as("norm"))
      .join(repIds, Seq("doc_id"), "left_semi")
      .cache()
    val banded = candidates
      .join(n.select(col("doc_id").as("doc_a"), col("norm").as("na")), Seq("doc_a"))
      .join(n.select(col("doc_id").as("doc_b"), col("norm").as("nb")), Seq("doc_b"))
      .filter(abs(length(col("na")) - length(col("nb"))) <= K)
      .withColumn("edit_dist", levenshtein(col("na"), col("nb")))
      .filter(col("edit_dist") <= K)
      .select(col("doc_a"), col("doc_b"), col("edit_dist"))
    // docs below the shingle width (< 3 words after normalization) carry
    // no bands, so banding can never surface their pairs; they are tiny
    // by construction, so an exact broadcast path pairs each against
    // every LENGTH-COMPATIBLE doc (the same O(1) screen) — recall 1 for
    // the sub-width stratum at |tiny|×|short-docs| cost, not n². Disjoint
    // from the banded branch (those pairs have shingles on both sides),
    // so the union never double-counts across branches; the distinct
    // collapses the two orderings a tiny–tiny pair arrives in.
    val tiny = shAll.filter(size(col("sh")) === 0).select(col("doc_id"))
      .join(n, Seq("doc_id"))
    val tinyPairs = lenBlockedPairs(tiny, n, K)
    // SHORT-SHINGLED stratum (see the recall note in the scaladoc): the
    // banding bound is weak at small m, so these pair exactly against
    // every SHINGLED doc (tiny×any lives in the tiny branch — right side
    // restricted to shingled docs keeps the two branches disjoint; a
    // short×short pair arrives in both orderings, distinct collapses it;
    // short×long appears only here because the banded branch is now
    // long×long only)
    val short = shAll
      .filter(size(col("sh")).between(1, EditShortMaxSh))
      .select(col("doc_id")).join(n, Seq("doc_id"))
    val shingledN = shAll.filter(size(col("sh")) >= 1)
      .select(col("doc_id")).join(n, Seq("doc_id"))
    val shortPairs = lenBlockedPairs(short, shingledN, K)
    val repPairs = banded.unionByName(tinyPairs).unionByName(shortPairs)
    // re-expand representative pairs to member pairs (disjoint groups, so
    // least/greatest never double-counts) and add the intra-class pairs
    val cross = repPairs
      .join(members.select(col("rep").as("doc_a"), col("doc_id").as("ida")),
        Seq("doc_a"))
      .join(members.select(col("rep").as("doc_b"), col("doc_id").as("idb")),
        Seq("doc_b"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
              greatest(col("ida"), col("idb")).as("doc_b"),
              col("edit_dist"))
    val intra = members.select(col("gk"), col("doc_id").as("ida"))
      .join(members.select(col("gk"), col("doc_id").as("idb")), Seq("gk"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        lit(0).as("edit_dist"))
    cross.unionByName(intra)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Exact-stratum pairing, LENGTH-BUCKET BLOCKED — never a plain
    * non-equi broadcast join: Catalyst pushes the `lev <= K` filter into
    * a BroadcastNestedLoopJoin's condition and may order it BEFORE the
    * O(1) length screen, making every |stratum|×|corpus| pair pay a full
    * DP (measured 126 s vs sub-second at sf0.1, r16). Bucketing on
    * ⌊len/K⌋ with the 3 neighbor buckets exploded on the stratum side is
    * complete for the |Δlen| <= K window (lb ∈ [la−K, la+K] ⇒ ⌊lb/K⌋ ∈
    * {⌊la/K⌋−1, ⌊la/K⌋, ⌊la/K⌋+1}) and makes the join EQUI, so the
    * residual condition — levenshtein included — runs only on
    * bucket-matched pairs. No broadcast hint: a short-doc-heavy corpus
    * (titles, query logs) has a corpus-scale stratum that an
    * unconditional broadcast would ship whole (the dedupKeep lesson);
    * AQE converts the shuffled join to broadcast when the stratum is
    * actually small, which is the fixture case. Inputs are (doc_id, norm)
    * frames; output is the canonicalized verified pair set.
    */
  private def lenBlockedPairs(left: DataFrame, right: DataFrame,
                              K: Int): DataFrame = {
    val lb = left.select(col("doc_id").as("ida"), col("norm").as("na"))
      .withColumn("lbk", explode(array((-1 to 1).map(o =>
        (length(col("na")).cast("long") / K).cast("long") + o): _*)))
    val rb = right.select(col("doc_id").as("idb"), col("norm").as("nb"),
      (length(col("nb")).cast("long") / K).cast("long").as("lbk"))
    lb.join(rb, Seq("lbk"))
      .filter(col("ida") =!= col("idb") &&
        abs(length(col("na")) - length(col("nb"))) <= K)
      .withColumn("edit_dist", levenshtein(col("na"), col("nb")))
      .filter(col("edit_dist") <= K)
      .select(least(col("ida"), col("idb")).as("doc_a"),
              greatest(col("ida"), col("idb")).as("doc_b"),
              col("edit_dist"))
      .distinct()
  }

  /** Char q-gram width for the exact edit tier. q = 4, not 3: the prefix
    * filter's selectivity is the df of the RAREST K·q+1 grams per doc,
    * and char 3-grams of same-domain text are dense enough that even the
    * rare ones carry corpus-scale df (measured: the q = 3 candidate set
    * at sf0.1 ground a single verify task for 8+ minutes); 4-grams are
    * ~40× sparser. The count bound holds for any q — the trade is prefix
    * LENGTH (K·q+1 = 41) against per-gram df, and df wins.
    */
  /** Measured floor note (r18, VERDICT r17 item 4): the sf1 canary's
    * quiet reading is 6.44 s (tpch_q1 control 1.19 s = 1.13× its floor,
    * same window). Re-tuning q was measured, not guessed: q = 5 at sf1
    * drilled 7.4× the in-window q1 control vs 6.6× for q = 4 (the 25%
    * longer K·q+1 prefix outweighs the sparser grams), and q = 3 remains
    * the r17-documented blowup. The prefix length K·q+1 is already the
    * ppjoin lemma's minimum for the |Q(a) ∩ Q(b)| ≥ max − K·q bound, so
    * the remaining cost IS the funnel: one cached gram-index pass feeding
    * two aggregates + the group-limited prefix window, the (gram,
    * length-bucket)-keyed candidate join with integer screens as join
    * residuals, and the output-sized DP — each stage bounded, none
    * removable without a different completeness proof.
    */
  private val EditQ = 4

  /** The 8 character classes of the histogram screen shared by the Spark
    * verify path and the DuckDB oracle: one edit changes the full
    * character histogram by L1 ≤ 2, and merging chars into classes only
    * lowers L1, so lev ≤ K implies Σ|Δh_i| ≤ 2K — an integer screen that
    * runs before any O(n·m) DP.
    */
  private val EditHistClasses = Seq("[a-d]", "[e-h]", "[i-l]", "[m-p]",
    "[q-t]", "[u-x]", "[y-z0-4]", "[^a-z0-4]")

  private def withHistCols(df: DataFrame): DataFrame =
    EditHistClasses.zipWithIndex.foldLeft(df) { case (d, (cls, i)) =>
      d.withColumn(s"h$i",
        length(col("norm")) - length(regexp_replace(col("norm"), cls, "")))
    }

  /** Edit-distance near-dup pairs, FULLY EXACT at every stratum — the
    * char-q-gram PPJoin tier the [[dedupEditDistance]] scaladoc names as
    * the exact alternative to its banding stratum (VERDICT r16 item 4).
    * Recall contract: banding's miss probability argument is strong for
    * clustered edits but probabilistic for scattered edits on barely-long
    * docs; this operator replaces it with a deterministic count bound.
    *
    * The bound: one edit operation rewrites at most q character q-grams'
    * windows, so it can remove at most q DISTINCT grams from a side's set
    * (a distinct gram disappears only if every occurrence is destroyed).
    * lev(a,b) ≤ K therefore implies |Q(a) ∩ Q(b)| ≥ max(|Qa|,|Qb|) − K·q,
    * and by the ppjoin prefix lemma a qualifying pair must share one of
    * each side's first K·q + 1 grams under any global total order —
    * rarest-first here, the same discipline as [[jaccardPairs]]. Docs
    * with ≤ K·q distinct grams (where the bound degenerates) take the
    * exact [[lenBlockedPairs]] stratum against ALL length-compatible
    * docs, so the two strata partition the pair space: a pair is
    * small×any (length-blocked, exact) or big×big (prefix-filtered,
    * exact). Candidates are verified with the O(1) length screen before
    * the levenshtein DP, and grams ride the index as xxhash64 longs
    * (8-byte shuffle entries; a cross-doc collision only ADDs a
    * candidate, an in-doc collision only LENGTHENS a prefix — recall is
    * never lost, same argument as the jaccard tier's). Exact-duplicate
    * pre-collapse and member re-expansion as in every sibling tier. At
    * 100 TB: Σ(prefix df²) candidates instead of pairs², with the
    * rarest-first order keeping hot grams out of the index.
    */
  private def dedupEditQgram(s: SparkSession, d: String): DataFrame = {
    val K = 10
    val keyed = docs(s, d).select(col("doc_id"),
      md5(TF.normText(col("text"))).as("gk"))
    val groups = keyed.groupBy(col("gk")).agg(min(col("doc_id")).as("rep"))
      .cache()
    val members = keyed.join(groups, Seq("gk")).cache()
    val repIds = groups.select(col("rep").as("doc_id"))
    val n = docs(s, d)
      .select(col("doc_id"), TF.normText(col("text")).as("norm"))
      .join(repIds, Seq("doc_id"), "left_semi")
      .cache()
    val pb = K * EditQ // count bound floor AND prefix length − 1
    // one char_grams kernel pass total: the exploded hashed index is
    // cached and BOTH strata memberships and the df order derive from it
    // (the spelled-out small/big filters re-evaluated the kernel per
    // consumer — 3 corpus passes at ~7 s each at sf0.1). |D| per doc is
    // the index's per-doc row count (char_grams is distinct), so the
    // stratum split needs no array sizes; dfreq over ALL docs is an
    // equally valid global total order (recall needs only that both join
    // sides rank by the SAME deterministic order).
    val invAll = n.select(col("doc_id"),
        explode(GraftFunctions.char_grams(col("norm"), EditQ)).as("g0"))
      .select(col("doc_id"), xxhash64(col("g0")).as("s"))
      .cache()
    val bigIds = invAll.groupBy(col("doc_id")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") > pb).select(col("doc_id"))
    // small = everything not big, INCLUDING gram-less docs shorter than
    // the gram width (they have no invAll rows at all)
    val small = n.join(bigIds, Seq("doc_id"), "left_anti")
    val smallPairs = lenBlockedPairs(small, n, K)
    // r18 measured dead end, recorded so it is not retried: folding the
    // big-stratum membership into the prefix window (count(*) OVER the
    // doc partition instead of this semi-join) removes a join but feeds
    // the dfreq join + window exchange ALL docs' gram rows — the small
    // stratum's rows are numerous enough that the window exchange grew
    // 28.3 → 44.7 MB and task time 56 → 79 s at sf0.1. The semi-join
    // (broadcast-converted at runtime) prunes them before the heavy
    // exchanges; keeping it is the cheaper shape.
    val inv = invAll.join(bigIds, Seq("doc_id"), "left_semi")
    val dfreq = invAll.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("s"))
    val prefix = inv.join(dfreq, Seq("s"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= pb + 1)
      .select(col("doc_id"), col("s"))
    // Candidate join keyed on (gram, LENGTH BUCKET), not gram alone, with
    // the verify screens INSIDE the join ahead of the distinct. Two
    // measured lessons folded together (44 s → seconds at sf0.1):
    //  - same-domain text keeps even the rarest-41 grams at corpus-scale
    //    df, so the bare gram self-join is Σdf² on hot postings; adding
    //    the ⌊len/K⌋ bucket to the key (3-bucket explode on one side,
    //    complete for |Δlen| ≤ K exactly as in [[lenBlockedPairs]])
    //    splits every posting list across the corpus's length spread
    //    before any pair materializes;
    //  - the |Δlen| ≤ K and 8-class histogram L1 ≤ 2K integer screens
    //    (each edit moves the class histogram by ≤ 2; merging classes
    //    only lowers L1) run as join residuals on a 9-int payload, so
    //    the distinct and everything after it see only near-qualifying
    //    pairs, and the O(n·m) DP is last, on survivors with the norm
    //    strings joined back (the statsless q=3 spelling ground a single
    //    lev task for 8+ minutes).
    val stats = withHistCols(n).select(col("doc_id") +: length(col("norm"))
      .as("l") +: EditHistClasses.indices.map(i => col(s"h$i")): _*)
    val prefixS = prefix.join(stats, Seq("doc_id"))
    def side(p: String, df: DataFrame) = df.toDF(
      df.columns.map(c => if (c == "s" || c == "blk") c else s"$p$c")
        .toIndexedSeq: _*)
    val lbk = (col("l").cast("long") / K).cast("long")
    val la = side("a", prefixS
      .withColumn("blk", explode(array((-1 to 1).map(o => lbk + o): _*))))
    val rb = side("b", prefixS.withColumn("blk", lbk))
    val histL1 = EditHistClasses.indices
      .map(i => abs(col(s"ah$i") - col(s"bh$i")))
      .reduce(_ + _)
    // EXPLICIT-width spread BEFORE the distinct, keyed on the pair: the
    // screened pair set is tiny in BYTES (two longs a row), so left to
    // itself AQE coalesces the distinct's exchange to ~3 partitions and
    // the broadcast-joined levenshtein stage fused on top runs 93k DPs
    // on 3 threads with 29 idle (measured 14 s per pass at sf0.1). Row
    // count, not byte count, is this stage's cost model — each row is
    // an O(n·m) DP. A user repartition with an explicit N is never
    // AQE-coalesced, and HashPartitioning(ida, idb, N) satisfies the
    // distinct's clustering requirement, so the distinct plans WITHOUT
    // its own (coalescible) exchange on top.
    val screened = la.join(rb, Seq("s", "blk"))
      .filter(col("adoc_id") < col("bdoc_id") &&
        abs(col("al") - col("bl")) <= K && histL1 <= 2 * K)
      .select(col("adoc_id").as("ida"), col("bdoc_id").as("idb"))
      .repartition(s.sessionState.conf.numShufflePartitions,
        col("ida"), col("idb"))
      .distinct()
    val bigPairs = screened
      .join(n.select(col("doc_id").as("ida"), col("norm").as("na")), Seq("ida"))
      .join(n.select(col("doc_id").as("idb"), col("norm").as("nb")), Seq("idb"))
      .withColumn("edit_dist", levenshtein(col("na"), col("nb")))
      .filter(col("edit_dist") <= K)
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        col("edit_dist"))
      // the verified pair set is output-sized (hundreds of rows) but its
      // lineage holds the whole DP funnel, and the final orderBy's range
      // sampling executes the plan a SECOND time past the last reusable
      // exchange — materialize ONCE so both passes pay the levenshtein
      // stage once. Eager localCheckpoint, not cache: a lazy cache makes
      // a re-run of the same frame a warm no-op (bench iterations would
      // publish cache-read times for an operator whose cost IS the
      // funnel), while the checkpoint re-materializes per construction
      // and its blocks still release under the Caches.releaseAll
      // session contract.
      .localCheckpoint(true)
    // small×any and big×big partition the rep-pair space (a pair with a
    // small side is emitted only by the length-blocked stratum; both-big
    // pairs only by the prefix tier), so the union never double-counts
    val repPairs = bigPairs.unionByName(smallPairs)
    val cross = repPairs
      .join(members.select(col("rep").as("doc_a"), col("doc_id").as("ida")),
        Seq("doc_a"))
      .join(members.select(col("rep").as("doc_b"), col("doc_id").as("idb")),
        Seq("doc_b"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
              greatest(col("ida"), col("idb")).as("doc_b"),
              col("edit_dist"))
    val intra = members.select(col("gk"), col("doc_id").as("ida"))
      .join(members.select(col("gk"), col("doc_id").as("idb")), Seq("gk"))
      .filter(col("ida") < col("idb"))
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        lit(0).as("edit_dist"))
    cross.unionByName(intra)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // -- duplicate-cluster extraction (connected components) ----------------

  /** Near-dup CLUSTERS from the verified pair graph — the step that turns
    * pairwise similarity into a drop decision (keep one doc per component).
    * See [[connectedComponents]] for the algorithm; output is component id
    * (min doc_id) and member count.
    */
  /** Connected components over an undirected pair list (doc_a, doc_b) by
    * min-label propagation WITH POINTER JUMPING (Shiloach–Vishkin-style
    * shortcutting): each round first takes the per-node min label across
    * edges, then replaces every label by its label's label. Jumping makes
    * the label "reach" roughly double per round — a diameter-D component
    * converges in O(log D) rounds instead of D (spec: a 1000-node chain
    * closes in ≤11 rounds; plain propagation would need 999) — while
    * keeping the convergence probe EXACT: labels still only ever decrease,
    * so the fixpoint is reached exactly when Σlabel stops changing, one
    * scalar aggregate per round. (The star-contraction alternative reaches
    * the same O(log) bound but its natural stopping rule compares edge
    * multisets — a hashed, probabilistic check; monotone Σlabel is exact.)
    *
    * Public so the convergence contract is directly testable on synthetic
    * graphs. Returns (node, label = component min). Throws if the fixpoint
    * is not reached within maxRounds: a silent partial clustering is worse
    * than a loud failure. Storage hygiene: every superseded round's
    * localCheckpoint blocks and the edge cache are unpersisted before
    * return — only the FINAL labels' blocks survive (the caller's result
    * reads them; the session owner releases them after its terminal
    * action).
    */
  def connectedComponents(pairs: DataFrame, maxRounds: Int): DataFrame = {
    val sc = pairs.sparkSession.sparkContext
    // localCheckpoint (eager), NOT cache, for the per-round labels: each
    // round references `labels` several times, so an uncheckpointed plan
    // MULTIPLIES per round — exponential plan growth that OOMs the driver
    // even though the data is tiny. Checkpointing truncates lineage to the
    // materialized partitions; tracking the block ids around the call is
    // what lets a later round unpersist exactly its predecessor's blocks.
    // Only LOCALLY-CHECKPOINTED new blocks belong to the round tracking:
    // the checkpoint job is often the first action over the caller's
    // lazily-cached inputs (pairs/shingle/edge caches), whose cache RDDs
    // register mid-job and would land in a bare keySet diff — round 1's
    // drop would then blocking-unpersist the caller's caches and every
    // later round would recompute the whole upstream pipeline (r16
    // review). isCheckpointed (true immediately after the EAGER local
    // checkpoint, false for plain cache RDDs) marks exactly the blocks
    // this function itself created.
    def tracked(df: DataFrame): (DataFrame, collection.Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      (out, sc.getPersistentRDDs.collect {
        case (id, rdd) if !before.contains(id) && rdd.isCheckpointed =>
          id
      }.toSet)
    }
    def drop(ids: collection.Set[Int]): Unit = ids.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    val edges = pairs.toDF("a", "b")
      .union(pairs.toDF("b2", "a2").select(col("a2"), col("b2")))
      .toDF("u", "v").cache()
    val s = pairs.sparkSession
    // Loop-scoped SCALE-ADAPTIVE width (r18, the pagerankConverged
    // treatment generalized to unbounded graphs): every frame inside the
    // loop is edge/node-sized — tiny against the corpus that derived the
    // pairs, but NOT constant-bounded like the nation graph, so the
    // width is derived from the measured edge count (the count also
    // eagerly materializes the edge cache the first round would pay
    // anyway) at [[LoopRowsPerTask]] rows per reduce task instead
    // of being pinned to 1 or left at the session's corpus-scale setting.
    // At fixture SFs this plans 1-wide rounds (the measured 32-empty-
    // task scheduling floor is gone); at a billion edges the same
    // arithmetic plans thousands of tasks. [[LoopSession.static]] runs
    // the loop with AQE off: with the width already right, each AQE
    // stage is its own mini-job and the per-round job count multiplies.
    val nEdges = edges.count()
    val width = math.min(s.sessionState.conf.numShufflePartitions.toLong,
      math.max(1L, nEdges / LoopRowsPerTask + 1L))
    try LoopSession.static(s, width) { in =>
      val loopEdges = in(edges)
      // init = min(self, neighbors): one propagation folded into the
      // node-set groupBy that the old `distinct()` init paid anyway. On
      // pair-dominated graphs (every dedup tier's common case: near-dup
      // clusters of 2) this IS the fixpoint, so the loop exits after one
      // sum-equality round instead of two; deeper components save one
      // round the same way. prevSum is seeded from the init state so that
      // first equality check is meaningful (labels only ever decrease, so
      // Σ unchanged across a round ⇒ pointwise unchanged ⇒ fixpoint).
      var (labels, labelIds) = tracked(
        loopEdges.groupBy(col("u")).agg(min(col("v")).as("mv"))
          .select(col("u").as("node"),
            least(col("u"), col("mv")).as("label")))
      var prevSum = Option(labels.agg(sum(col("label"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
      var converged = false
      var iter = 0
      try {
        while (!converged && iter < maxRounds) {
          iter += 1
          // 1) min-label propagation across edges
          val prop = loopEdges.join(labels, col("v") === col("node"))
            .select(col("u").as("node"), col("label"))
            .union(labels)
            .groupBy(col("node")).agg(min(col("label")).as("label"))
          // 2) pointer jump: label ← label(label). Every label value is a
          // node id of the same component (propagation only moves ids
          // along edges), so the self-join always matches; the coalesce is
          // belt-and-braces. Labels never increase: label(m) ≤ m.
          val (next, nextIds) = tracked(
            prop.join(
                prop.select(col("node").as("jn"), col("label").as("jl")),
                col("label") === col("jn"), "left")
              .select(col("node"),
                coalesce(col("jl"), col("label")).as("label")))
          drop(labelIds) // predecessor round materialized into `next`
          labels = next
          labelIds = nextIds
          val curSum = Option(labels.agg(sum(col("label"))).head().get(0))
            .map(_.asInstanceOf[Long]).getOrElse(0L)
          converged = curSum == prevSum
          prevSum = curSum
        }
        if (!converged)
          throw new IllegalStateException(
            s"connectedComponents: label propagation not converged after $iter rounds")
        labels
      } catch { case e: Throwable => drop(labelIds); throw e }
    } finally edges.unpersist(blocking = true)
  }

  private def dedupClusters(s: SparkSession, d: String): DataFrame = {
    val (vp, release) = minhashVerifiedPairsReleasable(s, d)
    val pairs = vp.select(col("doc_a"), col("doc_b")).cache()
    // connectedComponents drives actions internally, so by the time it
    // returns, `pairs` (and the shingle cache behind it) are fully
    // consumed: the result below reads only the final checkpointed labels
    try {
      connectedComponents(pairs, maxRounds = 20)
        .groupBy(col("label").as("cluster"))
        .agg(count(lit(1)).as("n_members"))
        .orderBy(col("cluster"))
    } finally { pairs.unpersist(blocking = true); release() }
  }

  /** The end of the dedup pipeline: the SURVIVING corpus after near-dup
    * collapse — every document except non-keeper cluster members (keeper =
    * component min doc_id). This is the operator a training-data pipeline
    * actually materializes; pairs and clusters are its intermediates.
    * Scale shape: the dropped set is duplicate-sized — small on a clean
    * corpus, so the anti-join broadcasts it against the full corpus scan
    * with no corpus shuffle at all; but CORPUS-scale on a dup-heavy one
    * (real crawls run 30-50% dup — the workload this operator exists
    * for), where an unconditional broadcast hint dies on the 8 GB
    * broadcast limit before a shuffled anti-join would even be slow. So
    * the hint rides the measured checked bound (the
    * [[graft.operators.Similarity.semanticDedupVerdicts]] label-join
    * pattern; the count is a metadata-cheap read off the already
    * checkpoint-materialized labels), degrading to the ordinary shuffled
    * anti-join past [[MaxBroadcastDropped]] — the right plan when the
    * "small" side is not (r16 review).
    */
  private val MaxBroadcastDropped = 5L * 1000 * 1000

  private def dedupKeep(s: SparkSession, d: String): DataFrame = {
    val (vp, release) = minhashVerifiedPairsReleasable(s, d)
    val pairs = vp.select(col("doc_a"), col("doc_b")).cache()
    try {
      val labels = connectedComponents(pairs, maxRounds = 20)
      val dropped = labels.filter(col("label") =!= col("node"))
        .select(col("node").as("doc_id"))
      // explicit checked-bound broadcast: the labels RDD carries no
      // stats, so without the hint Catalyst would plan a sort-merge
      // anti-join that shuffles the whole corpus on doc_id; past the
      // bound the shuffle IS the right plan (see the scaladoc)
      val dropSide =
        if (dropped.count() <= MaxBroadcastDropped) broadcast(dropped)
        else dropped
      docs(s, d).select(col("doc_id"), col("source"), col("n_chars"))
        .join(dropSide, Seq("doc_id"), "left_anti")
        .orderBy(col("doc_id"))
    } finally { pairs.unpersist(blocking = true); release() }
  }

  /** INCREMENTAL dedup — the asymmetric production shape: a "new batch"
    * (here the doc_id % 10 == 0 slice, standing in for an incoming crawl)
    * near-dup-checked AGAINST the existing corpus (the rest), without ever
    * self-joining the corpus. Banding is identical to [[bandKeys]] but the
    * bucket join is new×corpus, so cost scales with |batch|·bucket-density
    * instead of |corpus|² — at 100 TB the corpus band keys are a
    * persisted index (cf. the bucketed layouts) and each arriving batch
    * probes it. Verification is exact Jaccard, so precision is exact and
    * recall is the banding guarantee (miss ≈ 1e-14 at J = 0.8).
    */
  private def dedupIncremental(s: SparkSession, d: String): DataFrame = {
    val sh = shingleSets(s, d).filter(size(col("sh")) > 0).cache()
    val isNew = pmod(col("doc_id"), lit(10)) === 0
    val candidates = bandKeys(sh.filter(isNew))
      .select(col("doc_id").as("new_doc"), col("band"), col("h1"), col("h2"))
      .join(bandKeys(sh.filter(!isNew))
        .select(col("doc_id").as("dup_of"), col("band"), col("h1"), col("h2")),
        Seq("band", "h1", "h2"))
      .select(col("new_doc"), col("dup_of")).distinct()
    candidates
      .join(sh.select(col("doc_id").as("new_doc"), col("sh").as("sh_a")), Seq("new_doc"))
      .join(sh.select(col("doc_id").as("dup_of"), col("sh").as("sh_b")), Seq("dup_of"))
      .withColumn("common", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard", lit(1.0) * col("common") /
        (size(col("sh_a")) + size(col("sh_b")) - col("common")))
      .filter(col("jaccard") >= JaccardThreshold)
      .select(col("new_doc"), col("dup_of"), col("jaccard"))
      .orderBy(col("new_doc"), col("dup_of"))
  }

  /** CDC-style latest-per-key compaction — the most common dedup in
    * practice: collapse an append-only event/change log to the newest
    * record per key ("merge-on-read" compaction, keep-latest upsert). The
    * scalable shape is `max_by` over a struct ordering — a TWO-PHASE
    * aggregate (each map split reduces to one candidate per key before the
    * shuffle; no per-key sort, no window materializing every version) —
    * versus the textbook `row_number() = 1` window, which shuffles every
    * version of every key and sorts it. Tie-break on (ts, event_id) is
    * total because event_id is unique, so the pick is deterministic and
    * the DuckDB window-form oracle agrees row-for-row.
    */
  private def dedupKeepLatest(s: SparkSession, d: String): DataFrame = {
    val ev = graft.streaming.Streaming.events(s, d)
    ev.groupBy(col("user_id"))
      .agg(
        max_by(
          struct(col("event_id"), col("ts"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("e"),
        count(lit(1)).as("n_compacted"))
      .select(col("user_id"),
        col("e.event_id").as("last_event"), col("e.ts").as("last_ts"),
        col("e.event_type").as("last_type"), col("e.value").as("last_value"),
        col("n_compacted"))
      .orderBy(col("user_id"))
  }

  // -- SimHash near-dup (hamming ≤ 3 via exact quarter blocking) ---------

  /** 64-bit SimHash signatures derived from md5 token hashes (first 16 hex
    * digits = 64 bits; each token votes ±1 per bit, a bit is set when its
    * vote sum is strictly positive — Charikar, STOC 2002). md5 + substring
    * + integer bit ops are engine-agnostic, so DuckDB reproduces the
    * signature bit-for-bit and the near-dup pair set is driver-gated end to
    * end — a hash family only this JVM implements (the native
    * [[GraftFunctions.simhash64]] FNV kernel, which stays the production
    * fast path: spec-cross-validated and exercised via
    * `text_fingerprint_native`) can never be oracle-checked. Shape: token
    * explode then a bounded ×16 hex-digit explode, collapsed by two
    * map-side-combinable aggregations — one shuffle on (doc_id, digit),
    * one on doc_id; per-row state is O(1).
    */
  private[graft] def simhashMd5Sigs(s: SparkSession, d: String): DataFrame = {
    val digits = docs(s, d)
      .select(col("doc_id"), explode(TF.words(col("text"))).as("w"))
      .select(col("doc_id"), substring(md5(col("w")), 1, 16).as("h"))
      .select(col("doc_id"), explode(sequence(lit(0), lit(15))).as("d"),
        (expr("instr('0123456789abcdef', substring(h, d + 1, 1))") - 1)
          .as("v"))
    // per-digit ±1 vote sums for the 4 bits (MSB first)
    def vote(r: Int) =
      sum(shiftright(col("v"), 3 - r).bitwiseAND(lit(1)) * 2 - 1).as(s"s$r")
    def bit(r: Int) =
      when(col(s"s$r") > 0, lit(1L << (3 - r))).otherwise(lit(0L))
    val perDigit = digits.groupBy(col("doc_id"), col("d"))
      .agg(vote(0), vote(1), vote(2), vote(3))
      .select(col("doc_id"), col("d"),
        (bit(0) + bit(1) + bit(2) + bit(3)).as("dv"))
    // assemble hex digits into the 64-bit signature via 32-bit halves
    // (each half < 2^32 so the partial sums never overflow a long; the
    // final shiftleft reproduces the full bit pattern exactly)
    perDigit.groupBy(col("doc_id"))
      .agg(
        sum(when(col("d") < 8, expr("shiftleft(dv, 4 * (7 - d))"))
          .otherwise(lit(0L))).as("hi"),
        sum(when(col("d") >= 8, expr("shiftleft(dv, 4 * (15 - d))"))
          .otherwise(lit(0L))).as("lo"))
      .select(col("doc_id"),
        shiftleft(col("hi").cast(LongType), 32).bitwiseOR(col("lo"))
          .as("sim"))
  }

  private def simhashPairs(s: SparkSession, d: String): DataFrame = {
    val sims = simhashMd5Sigs(s, d)
    val quarters = sims.select(col("doc_id"), col("sim"),
        explode(array((0 until 4).map(j =>
          struct(lit(j).as("q"),
            shiftrightunsigned(col("sim"), 16 * j).bitwiseAND(lit(0xFFFFL))
              .as("qv"))): _*)).as("blk"))
      .select(col("doc_id"), col("sim"), col("blk.q"), col("blk.qv"))
    quarters.select(col("doc_id").as("doc_a"), col("sim").as("sim_a"),
        col("q"), col("qv"))
      .join(quarters.select(col("doc_id").as("doc_b"), col("sim").as("sim_b"),
        col("q"), col("qv")), Seq("q", "qv"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).cast(IntegerType)
          .as("hamming"))
      // filter BEFORE the distinct: hamming is a pure function of the
      // pair, so dropping chance quarter-collisions (~n²/2¹⁶ of them on a
      // large corpus) map-side costs no recall and keeps them out of the
      // dedup shuffle (r16 review)
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // -- embedding cosine top-k pairs (exact, block-partitioned) -----------

  /** Number of hash blocks for the exact all-pairs self-join. Work per
    * block pair is (n/G)²; total parallelism is G(G+1)/2 tasks; each row is
    * replicated (G+1)/2 times. At cluster scale pick G ≈ √(2·tasks wanted)
    * with n/G vectors fitting one task's memory.
    */
  private val EmbBlocks = 16

  /** Exact top-20 most-similar pairs via a block-partitioned self-join.
    *
    * Why not LSH here: this query's contract (and oracle) is the exact
    * global top-k over ALL pairs, and the corpus is unstructured (the
    * fixture's best pair is cos≈0.5) — at those angles hyperplane-LSH bands
    * either miss true top pairs or degenerate to ~n²/2^r candidates, so the
    * exact answer costs Θ(n²) for any algorithm. The scalable formulation
    * is therefore the classic block matrix self-join: broadcast the
    * G(G+1)/2 block-pair keys, replicate each side by its block id, and
    * equi-join on the (bi,bj) composite key. That spreads the n² work over
    * G(G+1)/2 evenly-sized tasks (no CartesianProduct single-stream
    * operator, no skew), and the trailing ORDER BY+LIMIT collapses to a
    * per-partition top-k (TakeOrderedAndProject) — shuffle output is 20
    * rows, not n². For *near-dup* detection (cos ≥ ~0.9 threshold) the
    * sub-quadratic LSH tier is [[simhashPairs]]/[[minhashLsh]].
    */
  private def embeddingPairs(s: SparkSession, d: String): DataFrame = {
    val e = Tables.load(s, d, "embeddings")
      .select(col("vec_id"), col("embedding").cast(ArrayType(DoubleType)).as("v"))
      .withColumn("bk", pmod(col("vec_id"), lit(EmbBlocks)).cast(IntegerType))
    val blockPairs = s.range(EmbBlocks.toLong * EmbBlocks)
      .select((col("id") / EmbBlocks).cast(IntegerType).as("bi"),
              pmod(col("id"), lit(EmbBlocks)).cast(IntegerType).as("bj"))
      .filter(col("bi") <= col("bj"))
    val left = e.join(broadcast(blockPairs), col("bk") === col("bi"))
      .select(col("bi"), col("bj"), col("vec_id").as("ida"), col("v").as("va"))
    val right = e.join(broadcast(blockPairs), col("bk") === col("bj"))
      .select(col("bi").as("ri"), col("bj").as("rj"),
              col("vec_id").as("idb"), col("v").as("vb"))
    left.join(right, col("bi") === col("ri") && col("bj") === col("rj"))
      // diagonal blocks see both orderings of a pair; off-diagonal see one
      .filter(col("bi") =!= col("bj") || col("ida") < col("idb"))
      .select(least(col("ida"), col("idb")).as("vec_a"),
              greatest(col("ida"), col("idb")).as("vec_b"),
              round(GraftFunctions.cosine_sim(col("va"), col("vb")), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_a"), col("vec_b"))
      .limit(20)
  }

  /** Segment-level exact dedup — the sub-document granularity of Lee et
    * al. 2107.06499 ("Deduplicating Training Data Makes Language Models
    * Better"): the corpus is cut into fixed-length non-overlapping word
    * segments and each DISTINCT segment keeps only its globally-first
    * occurrence (min (doc_id, seg_idx)); later occurrences are the
    * boilerplate/quotation mass document-level dedup can't see. Lee et al.
    * use 50-token windows over a real corpus; the fixture's ~40-word
    * vocabulary needs 3-word segments for non-vacuous collisions — the
    * plan shape is length-independent.
    *
    * Scale shape: one explode (segments are a partition of the text, so
    * the exploded table is the corpus size, NOT n× like overlapping
    * shingles) feeding a two-phase `min(struct(doc_id, seg_idx))`
    * aggregate per distinct segment — deliberately NOT a keep-first
    * window: a row_number window hash-partitions on the segment key and
    * SORTS each group, so one boilerplate segment repeated 10⁹ times
    * funnels through a single task. The min-struct aggregate collapses
    * hot segments to one candidate per map split before the shuffle
    * (skew-immune by construction), and the keeper table that reaches
    * the reducers is distinct-segment-sized. Per-doc totals come straight
    * from `size(words) div k` with no second explode; the doc-grain
    * rollup joins two doc-keyed aggregates. No pairwise anything, no
    * per-group sort: that is how exact sub-document dedup stays linear
    * at 100 TB.
    */
  /** Reusable segment table: (`doc_id`, `seg_idx`, `seg`) for every full
    * non-overlapping `segLen`-word segment of each document. `docsDf`
    * needs (`doc_id`, `text`); documents shorter than one segment
    * contribute no rows (and are absent from every downstream result).
    */
  def segmentTable(docsDf: DataFrame, segLen: Int): DataFrame = {
    require(segLen > 0, s"segment length must be positive: $segLen")
    docsDf
      .select(col("doc_id"), TF.words(col("text")).as("ws"))
      .withColumn("nseg", expr(s"size(ws) div $segLen"))
      .select(col("doc_id"),
        posexplode(when(col("nseg") > 0,
          expr(s"""transform(sequence(0, nseg - 1),
                   i -> concat_ws(' ', slice(ws, i * $segLen + 1, $segLen)))"""))
          .otherwise(array().cast("array<string>")))
          .as(Seq("seg_idx", "seg")))
  }

  /** Reusable keeper set: one row per DISTINCT segment with its
    * globally-first occurrence — the skew-immune min-struct aggregate
    * (see [[dedupSegment]]'s scaladoc for why this must never be a
    * row_number window). Columns: `doc_id`, `seg_idx`, `seg`.
    */
  def segmentKeepers(docsDf: DataFrame, segLen: Int): DataFrame =
    segmentTable(docsDf, segLen)
      .groupBy(col("seg"))
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("first"))
      .select(col("first.doc_id").as("doc_id"),
        col("first.seg_idx").as("seg_idx"), col("seg"))

  /** Per-doc segment-dedup counts over any (`doc_id`, `text`) frame. */
  def segmentDedupCounts(docsDf: DataFrame, segLen: Int): DataFrame = {
    val perDoc = docsDf
      .select(col("doc_id"),
        greatest(floor(size(TF.words(col("text"))) / lit(segLen)), lit(0))
          .cast("int").as("n_segs"))
    val kept = segmentKeepers(docsDf, segLen)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_kept"))
    perDoc.filter(col("n_segs") > 0) // sub-k-word docs have no segments
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        (col("n_segs") - coalesce(col("n_kept"), lit(0))).cast("int")
          .as("n_dropped"))
      .orderBy(col("doc_id"))
  }

  private def dedupSegment(s: SparkSession, d: String): DataFrame =
    segmentDedupCounts(docs(s, d), 3)

  /** CONTENT-DEFINED chunking dedup — the insertion-robust sibling of
    * [[dedupSegment]]'s fixed word grid (the storage-dedup/CDC idea —
    * Muthitacharoen et al., LBFS SOSP'01 — applied at corpus scale): cut
    * positions are a FUNCTION OF THE TEXT (here: the char position where
    * an 8-char window's md5 starts with hex '0', expected chunk ≈ 16
    * chars), so a copy of a passage shifted by an insertion re-
    * synchronizes at the next content cut and every chunk after it
    * dedups again. A fixed grid loses EVERY segment after a 1-char
    * insertion — the spec demonstrates exactly that split. No minimum
    * chunk bound, documented: adjacent cuts may emit 1-char chunks (the
    * fixture's hash density makes them rare, and a bound would add a
    * stateful scan for no oracle value).
    *
    * Scale shape, same discipline as the segment tier: the cut scan is
    * one pass (len−7 windows per doc, a partition of the corpus after
    * chunking — the explode is corpus-sized, not n×); keeper per
    * distinct chunk is the skew-immune two-phase min-struct aggregate
    * (never a per-group window sort); the doc rollup joins two
    * doc-keyed aggregates. The md5 window probe is the native codegen'd
    * [[graft.functions.CdcCuts]] kernel (r18; was an interpreted
    * transform lambda dispatching a fresh MessageDigest + hex encode per
    * character position — the r17 verdict's one interpreted hot loop):
    * one no-allocation pass per document, cut rule bit-identical (see
    * the kernel's scaladoc for the identity), so the DuckDB oracle's
    * replay is untouched. The downstream starts/ends lambdas stay
    * declarative — they run per CUT (≈ len/16), not per character.
    */
  /** Reusable CDC chunk table: (`doc_id`, `chunk_idx`, `chunk`) — the
    * content-defined partition of each normalized document (see
    * [[dedupCdcChunks]] for the cut rule and its rationale).
    */
  private def cdcChunkTable(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("doc_id"), TF.normText(col("text")).as("norm"))
      .filter(length(col("norm")) > 0)
      .withColumn("cuts", GraftFunctions.cdc_cuts(col("norm"), 8))
      .withColumn("starts",
        expr("concat(array(1), transform(cuts, c -> c + 1))"))
      .withColumn("ends",
        expr("concat(cuts, array(int(length(norm))))"))
      .select(col("doc_id"), col("norm"),
        posexplode(expr(
          "filter(zip_with(starts, ends, (s, e) -> struct(s AS s, e AS e))," +
            " x -> x.e >= x.s)")).as(Seq("chunk_idx", "se")))
      .select(col("doc_id"), col("chunk_idx"),
        expr("substring(norm, se.s, se.e - se.s + 1)").as("chunk"))

  /** One row per DISTINCT chunk with its globally-first occurrence — the
    * min-struct keeper over a [[cdcChunkTable]] frame (skew-immune, see
    * [[segmentKeepers]]). Takes the chunk frame, not the docs frame, so
    * callers that also need per-doc chunk counts share ONE cut scan
    * (ADVICE r17: the probe is the operator's dominant cost — evaluating
    * the chunk table once per consumer doubled it).
    */
  private def cdcKeepers(chunks: DataFrame): DataFrame =
    chunks
      .groupBy(col("chunk"))
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("first"))
      .select(col("first.doc_id").as("doc_id"),
        col("first.chunk_idx").as("chunk_idx"), col("chunk"))

  private def dedupCdcChunks(s: SparkSession, d: String): DataFrame = {
    // cached: feeds both the per-doc chunk counts and the keeper
    // aggregate — one cut scan, two consumers (released by the session
    // owner via Caches.releaseAll, same contract as substringDups)
    val chunks = cdcChunkTable(docs(s, d)).cache()
    val keepers = cdcKeepers(chunks)
      .groupBy(col("doc_id")).agg(count(lit(1)).cast("int").as("n_kept"))
    chunks.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_chunks"))
      .join(keepers, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"),
        coalesce(col("n_kept"), lit(0)).as("n_kept"),
        (col("n_chunks") - coalesce(col("n_kept"), lit(0))).cast("int")
          .as("n_dropped"))
      .orderBy(col("doc_id"))
  }

  /** The materialized output of [[dedupCdcChunks]] — each document
    * rebuilt from only the chunks whose globally-first occurrence it
    * owns (the [[dedupSegmentKeep]] contract at the content-defined
    * grain): the keeper aggregate already IS the kept set, so the
    * rebuild is one doc-grain aggregate with an order-preserving
    * `array_sort` over (chunk_idx, chunk) structs — chunks partition the
    * normalized text, so the empty-separator concat restores the kept
    * character subsequence exactly. Fully-duplicated documents vanish,
    * like the oracle.
    */
  private def dedupCdcKeep(s: SparkSession, d: String): DataFrame = {
    cdcKeepers(cdcChunkTable(docs(s, d)))
      .groupBy(col("doc_id"))
      .agg(
        concat_ws("", transform(
          array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))),
          x => x.getField("chunk"))).as("kept_text"),
        count(lit(1)).cast("int").as("n_kept"))
      .orderBy(col("doc_id"))
  }

  /** The materialized output of [[dedupSegment]] — the deduplicated corpus
    * itself (what Lee et al. actually train on): every document rebuilt
    * from only the segments whose globally-first occurrence it owns.
    * No join is needed: the min-struct keeper aggregate already IS the
    * kept-occurrence set (one row per distinct segment with its first
    * (doc_id, seg_idx)), so reconstruction is just a second doc-grain
    * aggregate with an order-preserving rebuild — `array_sort` over
    * (seg_idx, seg) structs restores document order without a window.
    * Two shuffles total (segment agg, doc agg); fully-duplicated
    * documents vanish from the output, exactly like the oracle.
    */
  private def dedupSegmentKeep(s: SparkSession, d: String): DataFrame =
    segmentKeepers(docs(s, d), 3)
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("seg_idx"), col("seg")))),
          x => x.getField("seg"))).as("kept_text"),
        count(lit(1)).cast("int").as("n_kept"))
      .orderBy(col("doc_id"))

  /** OVERLAPPING-window exact-substring dedup — Lee et al. 2107.06499's
    * HEADLINE variant (§4.1: every 50-token window is hashed; a window
    * seen before marks its span as duplicate text), the stronger form of
    * which [[dedupSegment]] is the non-overlapping approximation: a
    * duplicated span straddling a segment boundary escapes the segment
    * grain but cannot escape overlapping windows. The paper runs W = 50
    * over a real corpus; the fixture's ~40-word vocabulary needs W = 5
    * for non-vacuous cross-document collisions — the plan shape is
    * length-independent (same scaling as the 3-word segment grain).
    *
    * Occurrence grain: every W-word window at every position (stride 1,
    * so the exploded table is ~W× the corpus words — the price of
    * boundary-proof recall, exactly the paper's suffix-array cost
    * restated as a hash join). Keeper per distinct window = the
    * skew-immune two-phase `min(struct(doc_id, pos))` aggregate — never
    * a per-group window sort, same discipline as [[segmentKeepers]]: a
    * boilerplate window repeated 10⁹ times partial-combines to one
    * candidate per map split. Non-keeper occurrences of multiply-seen
    * windows are the "duplicate text"; the doc-grain rollup reports how
    * many windows and how many distinct WORD POSITIONS they cover (the
    * span a pipeline would excise). Coverage is a distinct-count over a
    * W-per-dup-row explode — bounded by dup_windows × W and provably
    * skew-free, in place of the per-doc interval-merge sort the paper's
    * single-machine form uses. Windows travel as xxhash64 longs (8-byte
    * exchange keys; the oracle groups the strings themselves — a
    * cross-window collision at fixture scale is ~2⁻⁵⁷ and would fail the
    * hash gate loudly).
    */
  def substringWindows(docsDf: DataFrame, w: Int): DataFrame = {
    require(w > 0, s"window length must be positive: $w")
    docsDf.select(col("doc_id"), TF.words(col("text")).as("ws"))
      .withColumn("nw", size(col("ws")) - w + 1)
      .filter(col("nw") > 0)
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, nw - 1), i -> concat_ws(' ', slice(ws, i + 1, $w)))"))
          .as(Seq("pos", "win")))
  }

  /** Occurrence table (cached — feeds the keeper aggregate, the
    * join-back, and per-doc totals; released by the session owner via
    * Caches.releaseAll) plus the non-keeper occurrences of multiply-seen
    * windows — the "duplicate text" set shared by the counts and keep
    * rows.
    */
  private def substringDups(docsDf: DataFrame, w: Int)
      : (DataFrame, DataFrame) = {
    val wins = substringWindows(docsDf, w)
      .select(col("doc_id"), col("pos"), xxhash64(col("win")).as("h"))
      .cache()
    val keepers = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("cnt") >= 2)
    val dups = wins.join(keepers, Seq("h"))
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .select(col("doc_id"), col("pos"))
    (wins, dups)
  }

  /** Per-doc overlapping-window dedup rollup over any (`doc_id`, `text`)
    * frame: docs owning at least one non-keeper occurrence of a
    * multiply-seen window, with window/position coverage counts.
    */
  def substringDedupCounts(docsDf: DataFrame, w: Int): DataFrame = {
    val (wins, dups) = substringDups(docsDf, w)
    val cov = dups
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("p"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("p")).cast("int").as("n_covered"))
    val per = dups.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_dup"),
        min(col("pos")).as("first_dup_pos"))
    val tot = wins.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_windows"))
    tot.join(per, Seq("doc_id")).join(cov, Seq("doc_id"))
      .select(col("doc_id"), col("n_windows"), col("n_dup"),
        col("n_covered"), col("first_dup_pos"))
      .orderBy(col("doc_id"))
  }

  private def dedupSubstringExact(s: SparkSession, d: String): DataFrame =
    substringDedupCounts(docs(s, d), 5)

  /** The materialized EXCISION of [[substringDedupCounts]] — the corpus
    * Lee et al. actually train on: every document rebuilt from only the
    * word positions NOT covered by a non-keeper occurrence of a
    * multiply-seen window (one occurrence of each duplicated span keeps
    * its text, everything else loses it; fully-covered documents vanish,
    * sub-W-word documents pass through untouched). Shape: the covered
    * position set (distinct (doc, p) — bounded by dup_windows × W), one
    * corpus-sized word posexplode, an anti join on (doc, p), and an
    * order-preserving doc-grain rebuild via `array_sort` over (p, word)
    * structs — no window, no per-group sort, same rebuild idiom as
    * [[dedupSegmentKeep]].
    */
  def substringKeep(docsDf: DataFrame, w: Int): DataFrame = {
    val (_, dups) = substringDups(docsDf, w)
    val covered = dups
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("p"))
      .distinct()
    val words = docsDf.select(col("doc_id"),
      posexplode(TF.words(col("text"))).as(Seq("p", "word")))
    words.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("p"), col("word")))),
          x => x.getField("word"))).as("kept_text"),
        count(lit(1)).cast("int").as("n_kept"))
      .orderBy(col("doc_id"))
  }

  private def dedupSubstringKeep(s: SparkSession, d: String): DataFrame =
    substringKeep(docs(s, d), 5)

  /** ASYMMETRIC containment dedup (Broder's containment coefficient
    * C(A,B) = |A∩B| / |A|): find fragments that live INSIDE larger
    * documents — quotes, syndicated excerpts, boilerplate blocks — which
    * symmetric Jaccard structurally misses (a 50-word quote inside a
    * 500-word page has J ≈ 0.1 but C = 1.0). The fixture plants the
    * fragment side deterministically (every doc_id % 29 == 0 document's
    * first-half word span, the "quote"), so each planted fragment must
    * surface its source at C = 1.0 and the machinery is non-vacuous; the
    * oracle replays the same plant.
    *
    * Scale shape: prefix filtering still applies on the PROBE (fragment)
    * side — if C ≥ t then among the fragment's floor((1-t)·|A|)+1
    * df-rarest shingles at least one is in B — but the corpus side
    * indexes its FULL postings (containment has no bound on |B|), which
    * is exactly the asymmetric batch-vs-corpus index layout
    * [[dedupIncremental]] already uses: cost is Σ_prefix df, linear-ish
    * in corpus size, never fragments×corpus. Shingles travel as
    * xxhash64 longs; verification is exact on the string shingle sets,
    * so precision is exact and recall is the prefix-filter guarantee
    * (exact, not probabilistic). Corpus-absent fragment shingles keep
    * their prefix slots via df = 0 (they probe nothing but still count
    * toward |A| — dropping them would shift the prefix and could lose a
    * candidate).
    */
  private def dedupContainment(s: SparkSession, d: String): DataFrame = {
    val t = 0.9
    // Exact-duplicate pre-collapse on BOTH sides, same contract as the
    // jaccard/minhash tiers. Corpus side: identical normalized text ⇒
    // identical shingle postings, so replicas multiply every df and the
    // Σ_prefix df probe cost r-fold for nothing. Probe side: identical
    // fragment spans ⇒ identical containment against everything. Each
    // side collapses to min-id representatives (the fragment key is the
    // fragment SHINGLE SET itself, since the %29 carve does not respect
    // text groups); verified rep pairs re-expand member×member at the
    // same containment — output-bound, exactly the rows the uncollapsed
    // tier emits. Recall is unaffected: the prefix-filter guarantee
    // holds under ANY consistent (df, s) order, so the df shift from
    // collapsing cannot lose a verified pair. Measured trade (SF≈1
    // 10×-replica canary, quiet windows): 3.9 → 4.5 s — the group keying
    // costs more than the index shrink repays at THIS fixture's profile,
    // where shingle map work dominates; the collapse is kept because the
    // uncollapsed index term is quadratic in replication (candidates ×r²)
    // and overtakes the fixed keying cost on any dup-heavy real corpus.
    val base = docs(s, d).select(col("doc_id"), TF.words(col("text")).as("ws"))
    val fragsAll = base.filter(pmod(col("doc_id"), lit(29)) === 0)
      .select(col("doc_id").as("frag_id"),
        GraftFunctions.word_shingles(
          slice(col("ws"), lit(1), (size(col("ws")) / 2).cast("int")),
          ShingleN).as("shf"))
      .filter(size(col("shf")) > 0)
    val fKeyed = fragsAll.select(col("frag_id"),
      md5(col("shf").cast("string")).as("fgk"))
    val fGroups = fKeyed.groupBy(col("fgk")).agg(min(col("frag_id")).as("frep"))
    val fMembers = fKeyed.join(fGroups, Seq("fgk"))
    // cached like the symmetric corpus side below: frags feeds both the
    // prefix index and the verify join, and without the cache each use
    // re-splits and re-shingles the fragment slice (r16 review); released
    // by the session owner via Caches.releaseAll
    val frags = fragsAll
      .join(fGroups.select(col("frep").as("frag_id")), Seq("frag_id"), "left_semi")
      .cache()
    val cKeyed = docs(s, d).select(col("doc_id"),
      md5(TF.normText(col("text"))).as("cgk"))
    val cGroups = cKeyed.groupBy(col("cgk")).agg(min(col("doc_id")).as("crep"))
    val cMembers = cKeyed.join(cGroups, Seq("cgk"))
    // cache released by the session owner via Caches.releaseAll (the
    // lazy-builder contract documented on graft.Caches)
    val corpus = shingleSets(s, d).filter(size(col("sh")) > 0)
      .join(cGroups.select(col("crep").as("doc_id")), Seq("doc_id"), "left_semi")
      .cache()
    val inv = corpus.select(col("doc_id"), explode(col("sh")).as("s0"))
      .select(col("doc_id"), xxhash64(col("s0")).as("s"))
    val dfreq = inv.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val finv = frags
      .select(col("frag_id"), size(col("shf")).as("szf"),
        explode(col("shf")).as("s0"))
      .select(col("frag_id"), col("szf"), xxhash64(col("s0")).as("s"))
    val w = Window.partitionBy(col("frag_id"))
      .orderBy(col("df").asc, col("s"))
    val prefix = finv.join(dfreq, Seq("s"), "left")
      .na.fill(0L, Seq("df"))
      .withColumn("rk", row_number().over(w))
      // prefix length |A| − ⌈t·|A|⌉ + 1 in EXACT integer form via
      // [[prefixDivisor]] (szf div 10 for t = 0.9); see its scaladoc for
      // the float trap this replaces
      .filter(col("rk") <= expr(s"szf div ${prefixDivisor(t)}") + 1)
      .select(col("frag_id"), col("s"))
    // Measured alternative (r10, SF≈1 canary, quiet windows, matched JVM
    // flags): adding PPJoin's POSITIONAL filter (Xiao et al., WWW 2008
    // §3.2 — rank corpus postings per doc under the same (df, s) order,
    // admit a match at (rka, rkb) only if 1 + min(szf−rka, szb−rkb) ≥
    // ⌈t·szf⌉) benches SLOWER here: 5.4–7.4 s vs 4.5–4.7 s for this
    // shape. The corpus-side per-doc ranking window costs a full extra
    // postings shuffle + sort, while the candidates it prunes feed a
    // verify join that is already cheap at this duplication profile —
    // the right trade only when candidate verification dominates (very
    // hot shingles surviving the prefix), not a default.
    val candidates = prefix.join(inv, Seq("s"))
      .select(col("frag_id"), col("doc_id")).distinct()
    val repPairs = candidates.join(frags, Seq("frag_id"))
      .join(corpus, Seq("doc_id"))
      .withColumn("common", size(array_intersect(col("shf"), col("sh"))))
      .withColumn("containment",
        lit(1.0) * col("common") / size(col("shf")))
      .filter(col("containment") >= t)
      .select(col("frag_id").as("frep"), col("doc_id").as("crep"),
        col("containment"))
    // member×member re-expansion of the verified rep pairs (groups on
    // each side are disjoint, so no pair is emitted twice)
    repPairs
      .join(fMembers.select(col("frep"), col("frag_id")), Seq("frep"))
      .join(cMembers.select(col("crep"), col("doc_id")), Seq("crep"))
      .select(col("frag_id"), col("doc_id"), col("containment"))
      .orderBy(col("frag_id"), col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedupExact _,
    "dedup_containment" -> dedupContainment _,
    "dedup_segment" -> dedupSegment _,
    "dedup_segment_keep" -> dedupSegmentKeep _,
    "dedup_substring_exact" -> dedupSubstringExact _,
    "dedup_substring_keep" -> dedupSubstringKeep _,
    "dedup_ngram_jaccard" -> jaccardPairs _,
    "join_fuzzy" -> joinFuzzy _,
    "join_fuzzy_best" -> joinFuzzyBest _,
    "dedup_minhash_lsh" -> minhashLsh _,
    "dedup_edit_distance" -> dedupEditDistance _,
    "dedup_edit_qgram" -> dedupEditQgram _,
    "dedup_cdc_chunks" -> dedupCdcChunks _,
    "dedup_cdc_keep" -> dedupCdcKeep _,
    "dedup_clusters" -> dedupClusters _,
    "dedup_keep" -> dedupKeep _,
    "dedup_incremental" -> dedupIncremental _,
    "dedup_keep_latest" -> dedupKeepLatest _,
    "dedup_simhash" -> simhashPairs _,
    "dedup_embedding_cos" -> embeddingPairs _
  )

  /** DuckDB exact-Jaccard pair set, inverted-index form (VERDICT r16 item
    * 3): candidates come from an equi join on shared shingles and the
    * intersection size IS the join's per-pair row count (shingle lists are
    * list_distinct, so each shared shingle contributes exactly one row) —
    * no list_intersect, no cross join. Exact for any threshold t > 0
    * because jaccard >= t implies at least one shared shingle. The old
    * all-pairs list-algebra form took 567 s at sf0.1 (12.5M list
    * intersections); this one is ~1.4 s and returns the identical pair
    * set at sf0.01 and sf0.1 — which is what lets the 10x oracle tier
    * gate the five rows built on it.
    */
  private val JaccardOracle = s"""
    WITH w AS (
      SELECT doc_id, string_split(${TextAnalysis.NormSql}, ' ') AS w
      FROM documents),
    sh AS (
      SELECT doc_id, list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        for i in range(1, len(w)-1) ]) AS sh
      FROM w WHERE len(w) >= 3),
    ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS c, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
      FROM ex a JOIN ex b USING (s)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, 1.0*c/(na + nb - c) AS jaccard
    FROM cand
    WHERE 1.0*c/(na + nb - c) >= 0.8
    ORDER BY doc_a, doc_b"""

  /** [[joinFuzzy]]'s oracle: the same inverted-index formulation as
    * [[JaccardOracle]], with the two relations split by source parity —
    * disjoint sides, so every qualifying (even, odd) pair appears exactly
    * once and needs no doc_id ordering.
    */
  private val FuzzyJoinOracle = s"""
    WITH w AS (
      SELECT doc_id,
             CAST(substr(source, 4) AS INT) % 2 AS par,
             string_split(${TextAnalysis.NormSql}, ' ') AS w
      FROM documents),
    sh AS (
      SELECT doc_id, par, list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        for i in range(1, len(w)-1) ]) AS sh
      FROM w WHERE len(w) >= 3),
    ex AS (SELECT doc_id, par, len(sh) AS n, unnest(sh) AS s FROM sh),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             COUNT(*) AS c, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
      FROM (SELECT * FROM ex WHERE par = 0) a
      JOIN (SELECT * FROM ex WHERE par = 1) b USING (s)
      GROUP BY 1, 2)
    SELECT doc_a, doc_b, 1.0*c/(na + nb - c) AS jaccard
    FROM cand
    WHERE 1.0*c/(na + nb - c) >= 0.8
    ORDER BY doc_a, doc_b"""

  /** [[joinFuzzyBest]]'s oracle: the pair oracle reduced to the per-left
    * best row under the same (jaccard DESC, doc_b ASC) total order, plus
    * the match count.
    */
  private val FuzzyJoinBestOracle = s"""
    WITH pairs AS ($FuzzyJoinOracle)
    SELECT doc_a, doc_b, jaccard, n_matches
    FROM (
      SELECT doc_a, doc_b, jaccard,
             CAST(COUNT(*) OVER (PARTITION BY doc_a) AS BIGINT)
               AS n_matches,
             ROW_NUMBER() OVER (PARTITION BY doc_a
                                ORDER BY jaccard DESC, doc_b ASC) AS rn
      FROM pairs)
    WHERE rn = 1 ORDER BY doc_a"""

  /** Exact lev <= 10 pair set, blocked the same way the Spark side blocks
    * (VERDICT r16 item 3): (1) length buckets ⌊len/10⌋ with the three
    * neighbor buckets exploded on one side make the candidate join EQUI
    * and complete for |Δlen| <= 10; (2) an 8-bucket character-class
    * histogram L1 screen — one edit changes the full character histogram
    * by L1 <= 2 and merging chars into classes only lowers L1, so
    * lev <= 10 implies Σ|Δh_i| <= 20 — runs as plain integer arithmetic
    * before any DP; (3) levenshtein only on the survivors, with the norm
    * strings joined back so the million-candidate screen never carries
    * them. Same 255-pair result as the old all-pairs form at sf0.1 in
    * 8.7 s instead of 328 s. Shared by dedup_edit_distance and the fully
    * exact dedup_edit_qgram tier (identical contract on fixtures where
    * banding recall is 1).
    */
  private val EditDistOracle = {
    val classes = Seq("[a-d]", "[e-h]", "[i-l]", "[m-p]", "[q-t]",
      "[u-x]", "[y-z0-4]", "[^a-z0-4]")
    val hcols = classes.zipWithIndex.map { case (c, i) =>
      s"length(norm) - length(regexp_replace(norm, '$c', '', 'g')) AS h$i"
    }.mkString(",\n               ")
    val screen = classes.indices.map(i => s"abs(a.h$i - b.h$i)")
      .mkString(" + ")
    s"""
      WITH n AS (SELECT doc_id, ${TextAnalysis.NormSql} AS norm
                 FROM documents),
      nb AS (SELECT doc_id, length(norm) AS l,
               CAST(floor(length(norm) / 10) AS BIGINT) AS blk,
               $hcols
             FROM n),
      probe AS (SELECT *, unnest([blk - 1, blk, blk + 1]) AS blk2 FROM nb),
      cand AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM nb a JOIN probe b ON a.blk = b.blk2 AND a.doc_id < b.doc_id
        WHERE abs(a.l - b.l) <= 10
          AND $screen <= 20)
      SELECT doc_a, doc_b,
             CAST(levenshtein(x.norm, y.norm) AS INT) AS edit_dist
      FROM cand JOIN n x ON x.doc_id = doc_a JOIN n y ON y.doc_id = doc_b
      WHERE levenshtein(x.norm, y.norm) <= 10
      ORDER BY doc_a, doc_b"""
  }

  /** Shared DuckDB CTE chain replaying [[cdcChunkTable]] bit-identically:
    * norm → md5-window cuts → start/end spans → (doc_id, chunk_idx,
    * chunk) via zipped parallel unnests.
    */
  private val CdcChunkCtes = s"""
      n AS (SELECT doc_id, ${TextAnalysis.NormSql} AS norm
                 FROM documents
                 WHERE length(${TextAnalysis.NormSql}) > 0),
      c AS (SELECT doc_id, norm,
              CASE WHEN length(norm) >= 8 THEN
                [ p + 7 for p in range(1, length(norm) - 6)
                  if substr(md5(substr(norm, p, 8)), 1, 1) = '0' ]
              ELSE [] END AS cuts
            FROM n),
      se AS (SELECT doc_id, norm,
               list_prepend(1, list_transform(cuts, x -> x + 1)) AS starts,
               list_append(cuts, CAST(length(norm) AS BIGINT)) AS ends
             FROM c),
      ex AS (SELECT doc_id,
               unnest([ i for i in range(1, len(starts) + 1)
                        if ends[i] >= starts[i] ]) AS chunk_idx,
               unnest([ substr(norm, CAST(starts[i] AS INT),
                               CAST(ends[i] - starts[i] + 1 AS INT))
                        for i in range(1, len(starts) + 1)
                        if ends[i] >= starts[i] ]) AS chunk
             FROM se)"""

  val oracles: Map[String, String] = Map(
    "dedup_exact" -> s"""
      SELECT COUNT(*) AS n_unique,
             CAST(SUM(grp) AS BIGINT) AS n_docs,
             CAST(SUM(grp) - COUNT(*) AS BIGINT) AS n_dupes
      FROM (SELECT ${TextAnalysis.NormSql} AS norm, COUNT(*) AS grp
            FROM documents GROUP BY 1)""",
    "dedup_segment" -> s"""
      WITH w AS (
        SELECT doc_id, string_split(${TextAnalysis.NormSql}, ' ') AS ws
        FROM documents),
      seg AS (
        SELECT doc_id,
               unnest(range(0, len(ws) // 3)) AS seg_idx,
               unnest([ array_to_string(ws[3*i+1 : 3*i+3], ' ')
                        for i in range(0, len(ws) // 3) ]) AS seg
        FROM w),
      r AS (
        SELECT doc_id, seg_idx,
               ROW_NUMBER() OVER (PARTITION BY seg
                                  ORDER BY doc_id, seg_idx) AS rn
        FROM seg)
      SELECT doc_id, CAST(COUNT(*) AS INT) AS n_segs,
             CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
             CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT) AS n_dropped
      FROM r GROUP BY doc_id ORDER BY doc_id""",
    // overlapping-window replay: group the window STRINGS (the Spark side
    // exchanges xxhash64 of them), keeper = (min doc, then min pos within
    // that doc) — lexicographic min(struct) restated without min-of-struct
    "dedup_substring_exact" -> s"""
      WITH w AS (
        SELECT doc_id, string_split(${TextAnalysis.NormSql}, ' ') AS ws
        FROM documents),
      win AS (
        SELECT doc_id,
               unnest(range(0, len(ws) - 4)) AS pos,
               unnest([ array_to_string(ws[i+1 : i+5], ' ')
                        for i in range(0, len(ws) - 4) ]) AS win
        FROM w WHERE len(ws) >= 5),
      k AS (
        SELECT win, COUNT(*) AS cnt, MIN(doc_id) AS kd
        FROM win GROUP BY win),
      k2 AS (
        SELECT w.win, ANY_VALUE(k.cnt) AS cnt, ANY_VALUE(k.kd) AS kd,
               MIN(w.pos) AS kp
        FROM win w JOIN k ON w.win = k.win AND w.doc_id = k.kd
        GROUP BY w.win),
      dups AS (
        SELECT w.doc_id, w.pos
        FROM win w JOIN k2 ON w.win = k2.win
        WHERE k2.cnt >= 2 AND NOT (w.doc_id = k2.kd AND w.pos = k2.kp)),
      cov AS (
        SELECT doc_id, COUNT(DISTINCT p) AS n_covered
        FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS p FROM dups)
        GROUP BY doc_id),
      per AS (
        SELECT doc_id, COUNT(*) AS n_dup, MIN(pos) AS first_dup_pos
        FROM dups GROUP BY doc_id),
      tot AS (
        SELECT doc_id, COUNT(*) AS n_windows FROM win GROUP BY doc_id)
      SELECT t.doc_id, CAST(t.n_windows AS INT) AS n_windows,
             CAST(p.n_dup AS INT) AS n_dup,
             CAST(c.n_covered AS INT) AS n_covered,
             CAST(p.first_dup_pos AS INT) AS first_dup_pos
      FROM tot t JOIN per p USING (doc_id) JOIN cov c USING (doc_id)
      ORDER BY t.doc_id""",
    // the excision replayed: covered = dup-window position spans, kept =
    // word positions outside them, rebuild ordered by position
    "dedup_substring_keep" -> s"""
      WITH w AS (
        SELECT doc_id, string_split(${TextAnalysis.NormSql}, ' ') AS ws
        FROM documents),
      win AS (
        SELECT doc_id,
               unnest(range(0, len(ws) - 4)) AS pos,
               unnest([ array_to_string(ws[i+1 : i+5], ' ')
                        for i in range(0, len(ws) - 4) ]) AS win
        FROM w WHERE len(ws) >= 5),
      k AS (
        SELECT win, COUNT(*) AS cnt, MIN(doc_id) AS kd
        FROM win GROUP BY win),
      k2 AS (
        SELECT w.win, ANY_VALUE(k.cnt) AS cnt, ANY_VALUE(k.kd) AS kd,
               MIN(w.pos) AS kp
        FROM win w JOIN k ON w.win = k.win AND w.doc_id = k.kd
        GROUP BY w.win),
      dups AS (
        SELECT w.doc_id, w.pos
        FROM win w JOIN k2 ON w.win = k2.win
        WHERE k2.cnt >= 2 AND NOT (w.doc_id = k2.kd AND w.pos = k2.kp)),
      cov AS (
        SELECT DISTINCT doc_id, p
        FROM (SELECT doc_id, unnest(range(pos, pos + 5)) AS p FROM dups)),
      words AS (
        SELECT doc_id, unnest(range(0, len(ws))) AS p, unnest(ws) AS word
        FROM w),
      kept AS (
        SELECT wd.doc_id, wd.p, wd.word
        FROM words wd LEFT JOIN cov
          ON wd.doc_id = cov.doc_id AND wd.p = cov.p
        WHERE cov.p IS NULL)
      SELECT doc_id, string_agg(word, ' ' ORDER BY p) AS kept_text,
             CAST(COUNT(*) AS INT) AS n_kept
      FROM kept GROUP BY doc_id ORDER BY doc_id""",
    "dedup_edit_distance" -> EditDistOracle,
    "dedup_edit_qgram" -> EditDistOracle,
    "dedup_segment_keep" -> s"""
      WITH w AS (
        SELECT doc_id, string_split(${TextAnalysis.NormSql}, ' ') AS ws
        FROM documents),
      seg AS (
        SELECT doc_id,
               unnest(range(0, len(ws) // 3)) AS seg_idx,
               unnest([ array_to_string(ws[3*i+1 : 3*i+3], ' ')
                        for i in range(0, len(ws) // 3) ]) AS seg
        FROM w),
      r AS (
        SELECT doc_id, seg_idx, seg,
               ROW_NUMBER() OVER (PARTITION BY seg
                                  ORDER BY doc_id, seg_idx) AS rn
        FROM seg)
      SELECT doc_id,
             string_agg(seg, ' ' ORDER BY seg_idx) AS kept_text,
             CAST(COUNT(*) AS INT) AS n_kept
      FROM r WHERE rn = 1
      GROUP BY doc_id ORDER BY doc_id""",
    "dedup_ngram_jaccard" -> JaccardOracle,
    "join_fuzzy" -> FuzzyJoinOracle,
    "join_fuzzy_best" -> FuzzyJoinBestOracle,
    // CDC replayed bit-identically: same md5-window cut rule, chunks via
    // zipped parallel unnests (the dedup_segment oracle's pattern),
    // keeper = first (doc, chunk_idx) occurrence per distinct chunk
    "dedup_cdc_chunks" -> s"""
      WITH $CdcChunkCtes,
      r AS (SELECT doc_id, chunk,
              ROW_NUMBER() OVER (PARTITION BY chunk
                                 ORDER BY doc_id, chunk_idx) AS rn
            FROM ex)
      SELECT doc_id, CAST(COUNT(*) AS INT) AS n_chunks,
             CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS INT) AS n_kept,
             CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS INT)
               AS n_dropped
      FROM r GROUP BY doc_id ORDER BY doc_id""",
    // the materialized CDC-deduped corpus: keeper occurrences only,
    // rebuilt in chunk order with the empty separator (chunks partition
    // the normalized text)
    "dedup_cdc_keep" -> s"""
      WITH $CdcChunkCtes,
      r AS (SELECT doc_id, chunk_idx, chunk,
              ROW_NUMBER() OVER (PARTITION BY chunk
                                 ORDER BY doc_id, chunk_idx) AS rn
            FROM ex)
      SELECT doc_id, string_agg(chunk, '' ORDER BY chunk_idx) AS kept_text,
             CAST(COUNT(*) AS INT) AS n_kept
      FROM r WHERE rn = 1
      GROUP BY doc_id ORDER BY doc_id""",
    // the same fragment plant (first-half word span of doc_id % 29 == 0),
    // brute-force containment — exact at oracle SF while the Spark side
    // runs the asymmetric prefix-filtered probe
    "dedup_containment" -> s"""
      WITH w AS (
        SELECT doc_id, string_split(${TextAnalysis.NormSql}, ' ') AS ws
        FROM documents),
      corpus AS (
        SELECT doc_id, list_distinct([ ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
          for i in range(1, len(ws)-1) ]) AS sh
        FROM w WHERE len(ws) >= 3),
      fr AS (
        SELECT doc_id AS frag_id, ws[1 : len(ws)//2] AS fws
        FROM w WHERE doc_id % 29 = 0),
      fsh AS (
        SELECT frag_id,
               list_distinct([ fws[i] || ' ' || fws[i+1] || ' ' || fws[i+2]
                 for i in range(1, len(fws)-1) ]) AS shf
        FROM fr WHERE len(fws) >= 3)
      SELECT f.frag_id, c.doc_id,
             1.0 * len(list_intersect(f.shf, c.sh)) / len(f.shf)
               AS containment
      FROM fsh f, corpus c
      WHERE len(f.shf) > 0
        AND 1.0 * len(list_intersect(f.shf, c.sh)) / len(f.shf) >= 0.9
      ORDER BY frag_id, doc_id""",
    "dedup_minhash_lsh" -> JaccardOracle,
    // connected components of the pair graph via recursive transitive
    // closure (tiny at oracle SF; the Spark side is the distributed form)
    "dedup_clusters" -> s"""
      WITH RECURSIVE pairs AS ($JaccardOracle),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
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
      FROM labels GROUP BY cluster ORDER BY cluster""",
    // exact cross-slice Jaccard: the incremental query's contract is the
    // full pair set between the batch slice and the corpus slice — same
    // inverted-index form as JaccardOracle (COUNT over the shared-shingle
    // equi join IS the intersection size), sliced by the %10 carve
    "dedup_incremental" -> s"""
      WITH w AS (
        SELECT doc_id, string_split(${TextAnalysis.NormSql}, ' ') AS w
        FROM documents),
      sh AS (
        SELECT doc_id, list_distinct([ w[i] || ' ' || w[i+1] || ' ' || w[i+2]
          for i in range(1, len(w)-1) ]) AS sh
        FROM w WHERE len(w) >= 3),
      ex AS (SELECT doc_id, len(sh) AS n, unnest(sh) AS s FROM sh),
      cand AS (
        SELECT a.doc_id AS new_doc, b.doc_id AS dup_of,
               COUNT(*) AS c, ANY_VALUE(a.n) AS na, ANY_VALUE(b.n) AS nb
        FROM ex a JOIN ex b USING (s)
        WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        GROUP BY 1, 2)
      SELECT new_doc, dup_of, 1.0*c/(na + nb - c) AS jaccard
      FROM cand
      WHERE 1.0*c/(na + nb - c) >= 0.8
      ORDER BY new_doc, dup_of""",
    // keep-latest compaction: the window form IS the oracle (the Spark
    // side's max_by is the sort-free equivalent); ordering by the
    // micros-cast ts matches Spark's truncated timestamps exactly
    "dedup_keep_latest" -> """
      WITH r AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS mts, event_type,
               value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_compacted
        FROM events)
      SELECT user_id, event_id AS last_event, mts AS last_ts,
             event_type AS last_type, value AS last_value, n_compacted
      FROM r WHERE rn = 1 ORDER BY user_id""",
    // surviving corpus = documents minus non-keeper members of the
    // transitive closure over the exact-Jaccard pair graph
    "dedup_keep" -> s"""
      WITH RECURSIVE pairs AS ($JaccardOracle),
      edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                UNION ALL SELECT doc_b, doc_a FROM pairs),
      reach(node, r) AS (
        SELECT u, v FROM edges
        UNION
        SELECT reach.node, e.v FROM reach JOIN edges e ON reach.r = e.u),
      labels AS (
        SELECT node, MIN(r) AS cluster FROM (
          SELECT node, r FROM reach
          UNION ALL
          SELECT DISTINCT u, u FROM edges) t
        GROUP BY node),
      dropped AS (SELECT node FROM labels WHERE node <> cluster)
      SELECT doc_id, source, n_chars FROM documents
      WHERE doc_id NOT IN (SELECT node FROM dropped)
      ORDER BY doc_id""",
    // brute-force md5-simhash pair set: the quarter blocking on the Spark
    // side is exact for hamming <= 3 (pigeonhole: one of 4 16-bit quarters
    // must be intact), so the all-pairs form here is the same set
    "dedup_simhash" -> s"""
      WITH toks AS (
        SELECT doc_id, unnest(string_split(${TextAnalysis.NormSql}, ' ')) AS w
        FROM documents),
      th AS (SELECT doc_id, substr(md5(w), 1, 16) AS h FROM toks),
      bits AS (
        SELECT doc_id, b,
               SUM(CASE WHEN ((strpos('0123456789abcdef',
                                      substr(h, CAST(1 + b // 4 AS INT), 1)) - 1)
                              >> CAST(3 - (b % 4) AS INT)) & 1 = 1
                        THEN 1 ELSE -1 END) AS s
        FROM th CROSS JOIN (SELECT unnest(range(64)) AS b) bs
        GROUP BY doc_id, b),
      halves AS (
        SELECT doc_id,
               SUM(CASE WHEN s > 0 AND b < 32
                        THEN (1::UBIGINT << CAST(31 - b AS INT))
                        ELSE 0::UBIGINT END) AS hi,
               SUM(CASE WHEN s > 0 AND b >= 32
                        THEN (1::UBIGINT << CAST(63 - b AS INT))
                        ELSE 0::UBIGINT END) AS lo
        FROM bits GROUP BY doc_id),
      simv AS (
        SELECT doc_id, (hi::UBIGINT * 4294967296::UBIGINT + lo::UBIGINT) AS sim
        FROM halves)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
      FROM simv a JOIN simv b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.sim, b.sim)) <= 3
      ORDER BY doc_a, doc_b""",
    "dedup_embedding_cos" -> """
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                          CAST(b.embedding AS DOUBLE[])), 6) AS cos
      FROM embeddings a, embeddings b
      WHERE a.vec_id < b.vec_id
      ORDER BY cos DESC, vec_a, vec_b
      LIMIT 20"""
  ).map { case (k, v) => k -> v.stripMargin.trim }
}
