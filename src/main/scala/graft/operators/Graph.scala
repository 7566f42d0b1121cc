package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Iterative graph analytics over relationally-derived edges — beyond the
  * reference (SURVEY.md §2.6: no iterative operators on its wire), but a
  * staple of corpus curation (site-level authority scores feed quality
  * weighting, cf. the page-quality signals in Gopher/CCNet-style
  * pipelines).
  *
  * PageRank here runs a FIXED iteration count so it is exactly
  * oracle-checkable: the DuckDB oracle unrolls the same three Jacobi
  * steps as chained CTEs. The per-iteration shape is the scale-portable
  * one — contributions are an edge⋈rank join aggregated by destination
  * (two-phase sum), never a driver-side adjacency walk; node count enters
  * only as the teleport constant. Dangling mass is deliberately dropped
  * (no out-edge nodes redistribute nothing) — both engines implement the
  * same convention, and ranks then sum to <1 by the dangling share.
  * [[graft.operators.Dedup]]'s label-propagation clusters already prove
  * the checkpoint-hygiene pattern for loops long enough to need it; three
  * iterations stay within plain lineage.
  */
object Graph {

  private val Damping = 0.85
  // 0.15 literal, NOT 1.0-Damping: the latter differs by one ulp from the
  // oracle's 0.15 (0.85 is not exactly representable), and the oracle
  // computes with the 0.15 double.
  private val Teleport = 0.15
  private val Iters = 3

  /** Nation-level trade graph: an edge src→dst when a customer in nation
    * `src` bought from a supplier in nation `dst`. Edge derivation is the
    * heavy part at 100 TB — three shuffle joins and a distinct — so it is
    * eagerly `localCheckpoint`ed once (|nations|² rows max) and every
    * iteration's plan reads those materialized blocks instead of
    * re-deriving; iterations themselves touch only |nations|-sized frames
    * (broadcast-joined automatically). Three iterations keep lineage
    * depth trivially bounded; a convergence-driven loop would add the
    * per-round checkpoint/unpersist hygiene
    * [[Dedup.connectedComponents]] demonstrates.
    */
  /** One (src, dst) row per lineitem: customer nation → supplier nation.
    * The 4-table join is the corpus-heavy stage shared by every graph
    * row; everything downstream is nation²-bounded.
    */
  private def tradeFlows(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "customer")
      .join(Tables.load(s, d, "orders"),
        col("o_custkey") === col("c_custkey"))
      .join(Tables.load(s, d, "lineitem"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.load(s, d, "supplier"),
        col("s_suppkey") === col("l_suppkey"))
      .select(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))

  private def pagerank(s: SparkSession, d: String): DataFrame = {
    val nation = Tables.load(s, d, "nation")
    val edges = tradeFlows(s, d).distinct().localCheckpoint(true)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val nodes = nation.select(col("n_nationkey").as("node"))
    // Node-dimension cardinality for the teleport constant: k-sized
    // metadata (|nation| = 25), same class as the IVF centroid fetch —
    // not a data-path collect.
    val n = nodes.count().toDouble
    var ranks = nodes.withColumn("rank", lit(1.0 / n))
    for (_ <- 1 to Iters) {
      val contrib = edges.join(deg, "src")
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst"), (col("rank") / col("outdeg")).as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
      ranks = nodes.join(contrib, col("node") === col("dst"), "left")
        .select(col("node"),
          (lit(Teleport / n) +
            lit(Damping) * coalesce(col("inflow"), lit(0.0))).as("rank"))
    }
    ranks.join(nation, col("n_nationkey") === col("node"))
      .select(col("n_name").as("nation"),
              round(col("rank"), 6).as("pagerank"))
      .orderBy(col("pagerank").desc, col("nation"))
  }

  /** Convergence bound for [[pagerankConverged]]: L1 fixpoint tolerance
    * and the loud-failure iteration cap (damping 0.85 contracts the L1
    * delta by ≥0.85 per step, so 1e-6 from a ~0.05 start lands near
    * iteration 66; 96 is the generous cap, and the DuckDB oracle unrolls
    * exactly this many candidate iterations).
    */
  private[graft] val ConvEps = 1e-6
  private[graft] val ConvMaxIters = 96

  /** Convergence-driven PageRank (VERDICT r16 item 8) — the production
    * stopping rule next to [[pagerank]]'s fixed-3-step oracle form:
    * iterate until the L1 delta between successive rank vectors drops
    * under [[ConvEps]], with the per-round localCheckpoint/unpersist
    * hygiene [[Dedup.connectedComponents]] proved out (each round's
    * blocks are tracked by persistent-RDD id diff and the superseded
    * round is blocking-unpersisted — without it a 60+-round loop
    * multiplies lineage per round and pins every round's blocks).
    * The delta check is one scalar aggregate per round over the
    * |nations|-sized rank frame — graph-level metadata, the same
    * per-round driver contract as connectedComponents' Σlabel probe;
    * the corpus-scale edge derivation is checkpointed ONCE before the
    * loop. Throws past [[ConvMaxIters]]: a silent non-converged ranking
    * is worse than a loud failure. Output carries the converged
    * iteration count (n_iters), and the oracle unrolls the same Jacobi
    * chain to [[ConvMaxIters]] CTE layers, picks the first iteration
    * whose delta clears the bound, and reports that iteration's ranks —
    * both engines decide convergence from the same arithmetic.
    */
  private def pagerankConverged(s: SparkSession, d: String): DataFrame = {
    val sc = s.sparkContext
    def tracked(df: DataFrame): (DataFrame, collection.Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(true)
      (out, sc.getPersistentRDDs.collect {
        case (id, rdd) if !before.contains(id) && rdd.isCheckpointed => id
      }.toSet)
    }
    def drop(ids: collection.Set[Int]): Unit = ids.foreach(id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = true)))
    val nation = Tables.load(s, d, "nation")
    // the SIGNIFICANT-trade graph (mean-thresholded), walked in both
    // directions — the raw trade graph is complete at every fixture SF,
    // where PageRank stays exactly uniform and "convergence" is a
    // 1-iteration no-op; the thresholded graph has degree variation and
    // a real convergence trajectory, which is what this row gates
    val und = significantEdges(s, d)
    val edges = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
      .localCheckpoint(true)
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .coalesce(1).localCheckpoint(true)
    val nodes = nation.select(col("n_nationkey").as("node"))
    val n = nodes.count().toDouble
    val (ranks0, blocks0) = tracked(nodes.withColumn("rank", lit(1.0 / n)))
    var iter = 0
    var delta = Double.MaxValue
    // Per-round cost here is pure ORCHESTRATION, so every round's frame
    // is coalesce(1)'d before its checkpoint: the iterate is node-count-
    // sized by construction (25 rows), and without the coalesce each
    // round's checkpoint + delta jobs schedule 32 shuffle-partition
    // tasks of nothing — measured 6.4 s for 22 rounds at sf0.1, almost
    // all of it task-scheduling overhead. (A lazy G-round batch variant
    // measured WORSE — 17.8 s — because each un-checkpointed round
    // re-plans its predecessors' shuffles G²/2-fold and exchange reuse
    // does not collapse them across the probe union; an r18 retry that
    // folded G rounds into one wide checkpointed frame re-measured the
    // same trap from the other side, 241→71 jobs but 8.0→10.3 s wall,
    // because the accumulator frame embeds its own predecessor twice
    // per round and the PLAN grows exponentially.) deg is derived
    // once from the checkpointed edges and checkpointed itself for the
    // same reason: uncheckpointed it re-runs its shuffle every round.
    //
    // Two r18 changes cut the measured per-round floor without touching
    // the arithmetic: (a) the PREVIOUS rank travels as a column of the
    // checkpointed round frame, so the L1-delta probe is one map-side
    // aggregate over 25 local rows instead of a join of two checkpoints
    // (the join cost a broadcast build + an extra stage per round); (b)
    // the loop runs under [[LoopSession.static]]: AQE off (measured ~11
    // AQE jobs/round, 241 total; static planning runs the same round as
    // 2 actions with in-flight broadcasts) and width 1. Width 1 is NOT a
    // local[32] tuning: every exchange inside the loop carries a
    // ≤|nations| frame by construction (the corpus-scale work — the edge
    // derivation — is checkpointed BEFORE the loop under the session's
    // normal width), so one reduce task per round is the right width at
    // ANY scale, and without it the static plan schedules 32 empty tasks
    // per round (measured 628 tasks / 13.6 task-seconds for 22 rounds).
    val ranks = LoopSession.static(s, 1) { in =>
      val (loopEdges, loopDeg) = (in(edges), in(deg))
      var (ranks, blocks) = (in(ranks0), blocks0)
      while (delta >= ConvEps && iter < ConvMaxIters) {
        iter += 1
        val contrib = loopEdges.join(loopDeg, "src")
          .join(ranks.select(col("node").as("src"), col("rank")), "src")
          .select(col("dst"), (col("rank") / col("outdeg")).as("c"))
          .groupBy(col("dst")).agg(sum(col("c")).as("inflow"))
        val (next, nextBlocks) = tracked(
          ranks.select(col("node"), col("rank").as("prev"))
            .join(contrib, col("node") === col("dst"), "left")
            .select(col("node"),
              (lit(Teleport / n) +
                lit(Damping) * coalesce(col("inflow"), lit(0.0))).as("rank"),
              col("prev"))
            .coalesce(1))
        delta = next
          .agg(sum(abs(col("rank") - col("prev"))).as("d"))
          .head().getDouble(0)
        drop(blocks)
        ranks = next.select(col("node"), col("rank"))
        blocks = nextBlocks
      }
      ranks
    }
    require(delta < ConvEps,
      s"pagerank did not converge within $ConvMaxIters iterations " +
        s"(last delta $delta)")
    ranks.join(nation, col("n_nationkey") === col("node"))
      .select(col("n_name").as("nation"),
              round(col("rank"), 6).as("pagerank"),
              lit(iter).as("n_iters"))
      .orderBy(col("pagerank").desc, col("nation"))
  }

  /** Degree-oriented triangle count + global clustering coefficient over
    * the significant-trade graph: an undirected edge (a,b) when the
    * two-way lineitem flow between nations a and b exceeds the MEAN pair
    * flow (a data-relative threshold, so the graph keeps structure at any
    * scale factor — the raw trade graph is complete even at sf0.01).
    *
    * The count uses the classic orientation trick: each edge points at
    * its (degree, id)-larger endpoint, which turns the graph into a DAG
    * whose out-degrees are O(√m)-bounded, so the wedge self-join below
    * is near-linear in edges rather than Σdeg² — the property that keeps
    * triangle counting alive on a power-law web graph at 100 TB, where
    * an unoriented wedge join on a celebrity node would be quadratic.
    * Each triangle then has exactly one "apex" (its order-minimal
    * vertex) and one closing-edge direction, so `count(*)` needs no
    * dedup. Wedge totals (Σ deg·(deg−1)/2) come from exact integer
    * sums; the clustering coefficient 3T/W divides two exact longs.
    */
  /** Undirected significant-trade edges — pair flow above the MEAN pair
    * flow (data-relative, so the graph keeps structure at any SF). The
    * nation²-bounded graph shared by [[triangles]] and [[bfs]].
    */
  private def significantEdges(s: SparkSession, d: String): DataFrame =
    tradeFlows(s, d).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      .withColumn("avg_s", avg(col("support")).over())
      .filter(col("support") > col("avg_s"))
      .select(col("a"), col("b"))

  private def triangles(s: SparkSession, d: String): DataFrame = {
    val und = significantEdges(s, d)
      .localCheckpoint(true) // nation²-bounded; reused 4× below
    val deg = und.select(explode(array(col("a"), col("b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("v").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("deg").as("db")), "b")
      .select(when(col("da") < col("db") ||
                   (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w")))
        .otherwise(struct(col("b").as("u"), col("a").as("w"))).as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"))
    // wedges share the apex u; the closing edge exists in oriented form
    // in exactly one of the two (v1,v2) orderings — no double count
    val tri = oriented.select(col("u"), col("w").as("v1"))
      .join(oriented.select(col("u"), col("w").as("v2")), "u")
      .filter(col("v1") =!= col("v2"))
      .join(oriented.select(col("u").as("v1"), col("w").as("v2")),
        Seq("v1", "v2"))
      .agg(count(lit(1)).as("n_triangles"))
    val wed = deg
      .agg((sum(col("deg") * (col("deg") - 1)) / 2).cast("long")
        .as("n_wedges"))
    tri.crossJoin(wed) // 1×1 rows — under the CartesianGuard bound
      .select(col("n_triangles"), col("n_wedges"),
        round(lit(3.0) * col("n_triangles") / col("n_wedges"), 6)
          .as("global_cc"))
  }

  /** Single-source BFS (hop distances) over the significant-trade graph —
    * the frontier-expansion primitive under reachability, radius, and
    * "within-k-hops" queries, written as the standard Pregel-style driver
    * loop: each level is one equi-join of the FRONTIER (not the full
    * distance table) against the edge list, an anti-join drops
    * already-visited nodes, and the loop stops when a level adds nothing.
    * Per-level driver work is one count (graph-level metadata, the same
    * contract as [[Dedup.connectedComponents]]' convergence check);
    * `localCheckpoint` keeps lineage flat across levels. On the fixture
    * the graph is nation²-bounded, but the shape is the 100 TB one:
    * frontier×edges joins, never node×node. Unreached nodes report −1.
    * Oracle: a depth-capped recursive CTE taking MIN(dist) per node.
    */
  private def bfs(s: SparkSession, d: String): DataFrame = {
    val und = significantEdges(s, d).localCheckpoint(true)
    val edges = und.select(col("a").as("u"), col("b").as("v"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v")))
      .localCheckpoint(true)
    val nodes = und
      .select(explode(array(col("a"), col("b"))).as("node")).distinct()
      .localCheckpoint(true)
    val srcRow = nodes.agg(min(col("node")).cast("long")).head()
    require(!srcRow.isNullAt(0),
      "significant-trade graph is empty at this scale factor; bfs has no source")
    val srcNode = srcRow.getLong(0)
    val source = nodes.filter(col("node") === srcNode)
      .select(col("node"), lit(0).as("dist")).coalesce(1)
      .localCheckpoint(true)
    // Loop-scoped static 1-wide planning (the pagerankConverged r18
    // treatment): frontier and distance frames are node-sized by
    // construction — the corpus-scale edge derivation is checkpointed
    // above at the session's normal width. The accumulated distance
    // table is kept as a LAZY union of the per-level checkpoints (each
    // leaf is already-materialized local blocks, so the plan is a flat
    // N-leaf scan) instead of re-checkpointing the whole union every
    // level — one driver action per level instead of two.
    val dist = LoopSession.static(s, 1) { in =>
      val loopEdges = in(edges)
      var dist = in(source)
      var frontier = dist
      var level = 1
      var active = true
      while (active && level <= 30) {
        val next = frontier.join(loopEdges, col("node") === col("u"))
          .select(col("v").as("node")).distinct()
          .join(dist.select(col("node").as("seen")),
            col("node") === col("seen"), "left_anti")
          .select(col("node"), lit(level).as("dist"))
          .coalesce(1).localCheckpoint(true)
        if (next.isEmpty) active = false
        else {
          dist = dist.unionAll(next)
          frontier = next
          level += 1
        }
      }
      dist
    }
    nodes.join(dist, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("dist"), lit(-1)).as("dist"))
      .orderBy(col("node"))
  }

  /** Connected components as a public graph primitive — the fourth graph
    * row, gating [[Dedup.connectedComponents]] (min-label propagation
    * with pointer jumping) against a SQL closure oracle directly, on a
    * graph that actually fragments: the co-purchase (market-basket)
    * graph. Parts are linked when they appear in the same order, kept
    * only above 2× the MEAN pair support (the [[significantEdges]]
    * data-relative convention, tightened so the graph stays sparse and
    * multi-component at any scale factor). Edge derivation is the
    * 100 TB-shaped stage: a lineitem self-join on l_orderkey emits
    * O(k²) pairs per order with k bounded by order size (≤7 in TPC-H) —
    * never a part×part join — then one groupBy; CC itself is the proven
    * O(log D)-round kernel. Output is one row per component (label =
    * min part key, member count), the form a curation pipeline consumes.
    * Oracle: the same edge derivation, then the transitive closure as a
    * recursive CTE (UNION-dedup'd, so it terminates on cycles) reduced
    * by MIN label per node.
    */
  /** The co-purchase edge derivation — public to `private[graft]` so the
    * plan spec can assert its shape directly (the edges are consumed
    * inside connectedComponents' checkpoint loop, so the final frame's
    * executed plan no longer shows them). The release thunk drops the
    * support-aggregate cache: the sup subtree feeds BOTH the mean stats
    * branch and the filter branch of one materialization, and exchange
    * reuse dedupes only the shuffle write — the final corpus-scale
    * HashAggregate would otherwise re-run per branch.
    */
  private[graft] def coPurchaseEdgesReleasable(
      s: SparkSession, d: String): (DataFrame, () => Unit) = {
    val li = Tables.load(s, d, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    // per-order pair generation via collect_list + combination explode —
    // ONE shuffle on the order key, where the equivalent lineitem
    // self-join would shuffle the table through both join sides. Order
    // sizes are bounded (≤7 line items in TPC-H), so the per-group
    // combination fan-out is O(k²)-bounded per order, never corpus².
    // sort_array makes every emitted pair (a ≤ b) positionally; the
    // strict filter drops same-part pairs, and duplicate parts within an
    // order emit each combination once per occurrence — exactly the
    // multiset the x.pk < y.pk self-join counts.
    val sup = li.groupBy(col("ok"))
      .agg(sort_array(collect_list(col("pk"))).as("pks"))
      .select(explode(expr(
        """flatten(transform(pks, (x, i) ->
             transform(slice(pks, i + 2, size(pks)),
                       y -> struct(x AS a, y AS b))))""")).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      .cache()
    // mean support as a 1-row broadcast stats frame, NOT a global
    // window: the pair set is corpus-scale here (unlike the
    // nation²-bounded [[significantEdges]]), and an unpartitioned
    // `over()` would funnel it through a single partition
    val m = sup.agg(avg(col("support")).as("avg_s"))
    // 2× mean, not mean: the mean sits just above the once-co-purchased
    // mass, so >mean keeps one giant component (98% of nodes at sf0.01);
    // 2× keeps only genuinely recurring pairs and the graph fragments
    // into the many small components a basket analysis actually mines
    val edges = sup.crossJoin(broadcast(m))
      .filter(col("support") > lit(2) * col("avg_s"))
      .select(col("a").as("doc_a"), col("b").as("doc_b"))
    (edges, () => { sup.unpersist(blocking = true); () })
  }

  private[graft] val LpRounds = 4

  /** Weighted synchronous label propagation (Raghavan et al. 2007, the
    * semi-synchronous deterministic variant) — community detection by
    * plurality vote, the cheap alternative to modularity methods and the
    * refinement step between [[components]]' connectivity clusters and
    * [[pagerank]]'s global scores. Each round every node adopts the label
    * with the largest incident edge-weight sum among its neighbours
    * (weight = pair trade support, so the vote is flow-weighted, not
    * degree-weighted); ties break to the smallest label, making the
    * whole fixed-round schedule deterministic and therefore exactly
    * oracle-checkable — the DuckDB side unrolls the same [[LpRounds]]
    * vote→argmax layers as materialized CTEs.
    *
    * Scale shape: the corpus-heavy stage is the one 4-table edge
    * derivation, checkpointed once; each round is a broadcast-sized
    * join + a TWO-PHASE (sum, then max_by) aggregate — the same
    * skew-immune argmax idiom as [[Dedup.dedupKeepLatest]], never a
    * per-node sort. On a billion-node graph the per-round cost is two
    * shuffles of node-cardinality frames; label frames never exceed one
    * row per node. The argmax `max_by(lbl, (wsum, −lbl))` is total
    * because lbl is distinct within a node's vote group.
    */
  private def labelProp(s: SparkSession, d: String): DataFrame = {
    val und = tradeFlows(s, d).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      .withColumn("avg_s", avg(col("support")).over())
      .filter(col("support") > col("avg_s"))
      .select(col("a"), col("b"), col("support"))
      .localCheckpoint(true) // nation²-bounded; read 2·LpRounds times
    val edges = und
      .select(col("a").as("u"), col("b").as("v"), col("support").as("w"))
      .unionAll(und
        .select(col("b").as("u"), col("a").as("v"), col("support").as("w")))
    // every node in the thresholded graph has ≥1 neighbour, so each
    // round's vote covers every node — no keep-own-label fallback needed
    var lbl = edges.select(col("u").as("node")).distinct()
      .select(col("node"), col("node").cast("long").as("lbl"))
    for (_ <- 1 to LpRounds) {
      lbl = edges
        .join(lbl.select(col("node").as("u"), col("lbl")), "u")
        .groupBy(col("v"), col("lbl")).agg(sum(col("w")).as("wsum"))
        .groupBy(col("v"))
        .agg(max_by(col("lbl"),
          struct(col("wsum"), (-col("lbl")).as("neg"))).as("lbl"))
        .select(col("v").as("node"), col("lbl"))
    }
    lbl.join(Tables.load(s, d, "nation"),
        col("n_nationkey") === col("node"))
      .select(col("n_name").as("nation"), col("lbl").as("community"))
      .orderBy(col("nation"))
  }

  /** Bellman–Ford round cap for [[sssp]]: positive weights mean every
    * shortest path is simple (≤ |V|−1 = 24 edges on the 25-nation
    * graph), so 24 relaxation rounds provably reach the fixpoint; the
    * oracle unrolls exactly this many layers and the Spark loop may
    * exit early at the measured fixpoint (further rounds are no-ops by
    * the same argument).
    */
  private[graft] val SsspMaxRounds = 24

  /** Weighted single-source shortest paths — [[bfs]]'s hop counter
    * upgraded to real edge costs, the primitive under routing,
    * influence-radius, and weighted-closeness queries. Edge cost is the
    * "affinity distance" max(support)+1−support: the heaviest-traded
    * pair costs 1, the rarest the most — all exact integers, so both
    * engines relax identical values. The iteration is textbook
    * Bellman–Ford written relationally: each round joins the
    * node-sized distance frame to the edge list and takes the
    * TWO-PHASE min over (incoming relaxations ∪ current), with the
    * fixpoint detected by one scalar count per round (did any node
    * improve?) — the same node-frame-only driver contract as
    * [[pagerankConverged]]. The corpus-scale stage is the one edge
    * derivation, checkpointed once; per-round frames never exceed one
    * row per node, so at a billion nodes each round is two
    * node-cardinality shuffles and the round count is the graph
    * diameter, not |V|.
    */
  private def sssp(s: SparkSession, d: String): DataFrame = {
    val und = tradeFlows(s, d).filter(col("src") =!= col("dst"))
      .select(least(col("src"), col("dst")).as("a"),
              greatest(col("src"), col("dst")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      .withColumn("avg_s", avg(col("support")).over())
      .filter(col("support") > col("avg_s"))
      .withColumn("w",
        max(col("support")).over() + lit(1L) - col("support"))
      .select(col("a"), col("b"), col("w"))
      .localCheckpoint(true) // nation²-bounded; read every round
    val edges = und.select(col("a").as("u"), col("b").as("v"), col("w"))
      .unionAll(und.select(col("b").as("u"), col("a").as("v"), col("w")))
    val nodes = edges.select(col("u").as("node")).distinct()
      .localCheckpoint(true)
    val srcRow = nodes.agg(min(col("node")).cast("long")).head()
    require(!srcRow.isNullAt(0),
      "significant-trade graph is empty at this scale factor; sssp has no source")
    val srcNode = srcRow.getLong(0)
    val dist0 = nodes.select(col("node"),
        when(col("node") === srcNode, lit(0L)).as("dist"))
      .coalesce(1).localCheckpoint(true) // null dist = unreached
    // Loop-scoped static 1-wide planning (the pagerankConverged r18
    // treatment, same justification): every frame in the relaxation loop
    // is node-sized by construction — the corpus-scale edge derivation
    // is checkpointed above under the session's normal width — so AQE's
    // per-stage mini-jobs and 32-way shuffles of 25 rows are pure
    // scheduling overhead. The PREVIOUS distance rides the relaxed frame
    // as a column (the dist side of the union contributes exactly one
    // row per node, so max(prev) over the group recovers it exactly),
    // making the did-anything-improve probe one map-side aggregate over
    // the checkpointed frame instead of a per-round join + count.
    val dist = LoopSession.static(s, 1) { in =>
      val loopEdges = in(edges)
      var dist = in(dist0)
      var round = 0
      var active = true
      while (active && round < SsspMaxRounds) {
        val relaxed = loopEdges
          .join(dist.select(col("node").as("u"), col("dist").as("du")), "u")
          .filter(col("du").isNotNull)
          .select(col("v").as("node"), (col("du") + col("w")).as("cand"),
            lit(null).cast("long").as("prev"))
          .unionByName(dist.select(col("node"), col("dist").as("cand"),
            col("dist").as("prev")))
          .groupBy(col("node")).agg(min(col("cand")).as("dist"),
            max(col("prev")).as("prev"))
          .coalesce(1).localCheckpoint(true)
        val improved = relaxed
          .agg(sum(when((col("prev").isNull && col("dist").isNotNull) ||
                        col("dist") < col("prev"), 1L).otherwise(0L)))
          .head().getLong(0)
        dist = relaxed.select(col("node"), col("dist"))
        round += 1
        if (improved == 0) active = false
      }
      dist
    }
    dist.select(col("node"), coalesce(col("dist"), lit(-1L)).as("dist"))
      .orderBy(col("node"))
  }

  private def components(s: SparkSession, d: String): DataFrame = {
    // the edges are consumed entirely inside connectedComponents (its
    // convergence loop checkpoints eagerly), so the support cache can be
    // released before the lazy result frame is returned
    val (pairs, release) = coPurchaseEdgesReleasable(s, d)
    try {
      Dedup.connectedComponents(pairs, maxRounds = 20)
        .groupBy(col("label").as("component"))
        .agg(count(lit(1)).cast("long").as("n_members"))
        .orderBy(col("component"))
    } finally release()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_pagerank" -> pagerank _,
    "graph_pagerank_converged" -> pagerankConverged _,
    "graph_triangles" -> triangles _,
    "graph_components" -> components _,
    "graph_bfs" -> bfs _,
    "graph_label_prop" -> labelProp _,
    "graph_sssp" -> sssp _
  )

  /** The SSSP oracle: [[SsspMaxRounds]] Bellman–Ford layers unrolled as
    * materialized CTEs — each layer min-merges the previous layer's
    * distances with every one-edge relaxation (NULL = unreached; MIN
    * ignores the NULL candidates a NULL source distance produces). 24
    * rounds provably reach the fixpoint the Spark loop early-exits at.
    */
  private def ssspOracleSql: String = {
    val layers = (1 to SsspMaxRounds).map { i =>
      s"""
    d$i AS MATERIALIZED (
            SELECT node, MIN(cand) AS dist FROM (
              SELECT e.v AS node, d.dist + e.w AS cand
              FROM e JOIN d${i - 1} d ON d.node = e.u
              UNION ALL
              SELECT node, dist FROM d${i - 1})
            GROUP BY node)"""
    }.mkString(",")
    s"""
      WITH flows AS MATERIALIZED (
                     SELECT c.c_nationkey AS src, s.s_nationkey AS dst
                     FROM customer c
                     JOIN orders o ON o.o_custkey = c.c_custkey
                     JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                     JOIN supplier s ON s.s_suppkey = l.l_suppkey
                     WHERE c.c_nationkey <> s.s_nationkey),
           sup AS MATERIALIZED (
                   SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                          COUNT(*) AS support
                   FROM flows GROUP BY 1, 2),
           und AS MATERIALIZED (
                   SELECT a, b,
                          (SELECT MAX(support) FROM sup
                           WHERE support > (SELECT AVG(support) FROM sup))
                            + 1 - support AS w
                   FROM sup
                   WHERE support > (SELECT AVG(support) FROM sup)),
           e AS MATERIALIZED (
                  SELECT a AS u, b AS v, w FROM und
                  UNION ALL SELECT b, a, w FROM und),
           nodes AS MATERIALIZED (SELECT DISTINCT u AS node FROM e),
           d0 AS MATERIALIZED (
                  SELECT node,
                         CASE WHEN node = (SELECT MIN(node) FROM nodes)
                              THEN CAST(0 AS BIGINT) END AS dist
                  FROM nodes),
           $layers
      SELECT CAST(node AS INT) AS node,
             COALESCE(dist, -1) AS dist
      FROM d$SsspMaxRounds
      ORDER BY node"""
  }

  /** The label-propagation oracle: [[LpRounds]] vote→argmax layers
    * unrolled as materialized CTEs (the [[convOracleSql]] technique);
    * every layer is |nations|-sized. ROW_NUMBER's (wsum DESC, lbl ASC)
    * order is the same total argmax the Spark side's max_by struct
    * encodes.
    */
  private def labelPropOracleSql: String = {
    val layers = (1 to LpRounds).map { i =>
      s"""
    v$i AS MATERIALIZED (
            SELECT e.v AS node, l.lbl, CAST(SUM(e.w) AS BIGINT) AS wsum
            FROM e JOIN l${i - 1} l ON l.node = e.u
            GROUP BY 1, 2),
    l$i AS MATERIALIZED (
            SELECT node, lbl FROM (
              SELECT node, lbl,
                     ROW_NUMBER() OVER (PARTITION BY node
                                        ORDER BY wsum DESC, lbl ASC) AS rn
              FROM v$i)
            WHERE rn = 1)"""
    }.mkString(",")
    s"""
      WITH flows AS MATERIALIZED (
                     SELECT c.c_nationkey AS src, s.s_nationkey AS dst
                     FROM customer c
                     JOIN orders o ON o.o_custkey = c.c_custkey
                     JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                     JOIN supplier s ON s.s_suppkey = l.l_suppkey
                     WHERE c.c_nationkey <> s.s_nationkey),
           sup AS MATERIALIZED (
                   SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                          COUNT(*) AS support
                   FROM flows GROUP BY 1, 2),
           und AS MATERIALIZED (
                   SELECT a, b, support FROM sup
                   WHERE support > (SELECT AVG(support) FROM sup)),
           e AS MATERIALIZED (
                  SELECT a AS u, b AS v, support AS w FROM und
                  UNION ALL SELECT b, a, support FROM und),
           l0 AS MATERIALIZED (
                  SELECT DISTINCT u AS node, CAST(u AS BIGINT) AS lbl
                  FROM e),
           $layers
      SELECT n.n_name AS nation, l.lbl AS community
      FROM l$LpRounds l JOIN nation n ON n.n_nationkey = l.node
      ORDER BY nation"""
  }

  private def iterCte(prev: String, name: String): String = s"""
    $name AS (SELECT nd.node,
                     0.15/(SELECT cnt FROM nn) +
                     0.85*COALESCE(SUM(p.rank/deg.outdeg), 0) AS rank
              FROM (SELECT n_nationkey AS node FROM nation) nd
              LEFT JOIN edges e ON e.dst = nd.node
              LEFT JOIN deg ON deg.src = e.src
              LEFT JOIN $prev p ON p.node = e.src
              GROUP BY nd.node)"""

  /** The converged-PageRank oracle: the Jacobi chain unrolled to
    * [[ConvMaxIters]] generated CTE layers (the BPE-train / ingest-oracle
    * technique — recursive CTEs cannot re-aggregate the working table),
    * each layer also emitting its L1 delta vs the previous layer; `conv`
    * picks the first layer whose delta clears [[ConvEps]] and the output
    * is that layer's ranks plus the iteration count. Every layer is
    * |nations|-sized, so the unroll is milliseconds in DuckDB despite
    * its textual bulk.
    */
  private def convOracleSql: String = {
    // every CTE here is MATERIALIZED: DuckDB inlines single-referenced
    // CTEs by default, and with 96 layers each referencing `edges` the
    // inlined plan instantiates the 4-table parquet join ~96× — measured
    // to exhaust the process file-descriptor limit outright, never mind
    // the wasted work. Materialization evaluates each layer once
    // (|nations| rows), which is also what the Spark side's per-round
    // localCheckpoint does.
    val layers = (1 to ConvMaxIters).map { i =>
      s"""
    r$i AS MATERIALIZED (
              SELECT nd.node,
                     0.15/(SELECT cnt FROM nn) +
                     0.85*COALESCE(SUM(p.rank/deg.outdeg), 0) AS rank
              FROM (SELECT n_nationkey AS node FROM nation) nd
              LEFT JOIN edges e ON e.dst = nd.node
              LEFT JOIN deg ON deg.src = e.src
              LEFT JOIN r${i - 1} p ON p.node = e.src
              GROUP BY nd.node),
    d$i AS MATERIALIZED (
            SELECT $i AS iter, SUM(ABS(a.rank - b.rank)) AS delta
            FROM r$i a JOIN r${i - 1} b ON a.node = b.node)"""
    }.mkString(",")
    val allR = (1 to ConvMaxIters)
      .map(i => s"SELECT $i AS iter, node, rank FROM r$i")
      .mkString(" UNION ALL ")
    val allD = (1 to ConvMaxIters).map(i => s"SELECT * FROM d$i")
      .mkString(" UNION ALL ")
    s"""
      WITH flows AS MATERIALIZED (
                     SELECT c.c_nationkey AS src, s.s_nationkey AS dst
                     FROM customer c
                     JOIN orders o ON o.o_custkey = c.c_custkey
                     JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                     JOIN supplier s ON s.s_suppkey = l.l_suppkey
                     WHERE c.c_nationkey <> s.s_nationkey),
           sup AS MATERIALIZED (
                   SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                          COUNT(*) AS support
                   FROM flows GROUP BY 1, 2),
           und AS MATERIALIZED (
                   SELECT a, b FROM sup
                   WHERE support > (SELECT AVG(support) FROM sup)),
           edges AS MATERIALIZED (
                     SELECT a AS src, b AS dst FROM und
                     UNION ALL SELECT b, a FROM und),
           deg AS MATERIALIZED (
                   SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           nn AS MATERIALIZED (
                  SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nation),
           r0 AS MATERIALIZED (
                  SELECT n_nationkey AS node, 1.0/(SELECT cnt FROM nn) AS rank
                  FROM nation),
           $layers,
           deltas AS ($allD),
           conv AS (SELECT CAST(MIN(iter) AS INT) AS it FROM deltas
                    WHERE delta < $ConvEps),
           fin AS (SELECT node, rank FROM ($allR)
                   WHERE iter = (SELECT it FROM conv))
      SELECT n.n_name AS nation, ROUND(f.rank, 6) AS pagerank,
             (SELECT it FROM conv) AS n_iters
      FROM fin f JOIN nation n ON n.n_nationkey = f.node
      ORDER BY pagerank DESC, nation"""
  }

  val oracles: Map[String, String] = Map(
    "graph_pagerank_converged" -> convOracleSql,
    "graph_label_prop" -> labelPropOracleSql,
    "graph_sssp" -> ssspOracleSql,
    "graph_pagerank" -> s"""
      WITH edges AS (SELECT DISTINCT c.c_nationkey AS src, s.s_nationkey AS dst
                     FROM customer c
                     JOIN orders o ON o.o_custkey = c.c_custkey
                     JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                     JOIN supplier s ON s.s_suppkey = l.l_suppkey),
           deg AS (SELECT src, COUNT(*) AS outdeg FROM edges GROUP BY src),
           nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS cnt FROM nation),
           r0 AS (SELECT n_nationkey AS node, 1.0/(SELECT cnt FROM nn) AS rank
                  FROM nation),
           ${iterCte("r0", "r1")},
           ${iterCte("r1", "r2")},
           ${iterCte("r2", "r3")}
      SELECT n.n_name AS nation, ROUND(r3.rank, 6) AS pagerank
      FROM r3 JOIN nation n ON n.n_nationkey = r3.node
      ORDER BY pagerank DESC, nation""",
    // min-hop distances via a depth-capped recursive CTE (the cap stops
    // cycle-inflated dist rows; MIN per node recovers true BFS levels)
    "graph_bfs" -> """
      WITH RECURSIVE flows AS (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        WHERE c.c_nationkey <> s.s_nationkey),
      sup AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                     COUNT(*) AS support
              FROM flows GROUP BY 1, 2),
      und AS (SELECT a, b FROM sup
              WHERE support > (SELECT AVG(support) FROM sup)),
      e AS (SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b, a FROM und),
      nodes AS (SELECT DISTINCT u AS node FROM e),
      reach(node, dist) AS (
        SELECT (SELECT MIN(node) FROM nodes), 0
        UNION
        SELECT e.v, r.dist + 1 FROM reach r JOIN e ON r.node = e.u
        WHERE r.dist < 30),
      lab AS (SELECT node, MIN(dist) AS dist FROM reach GROUP BY node)
      SELECT CAST(n.node AS INT) AS node, COALESCE(l.dist, -1) AS dist
      FROM nodes n LEFT JOIN lab l ON n.node = l.node
      ORDER BY n.node""",
    // transitive closure by recursive CTE (UNION dedups, so it
    // terminates on cycles), reduced to min label per node, then one
    // row per component
    "graph_components" -> """
      WITH RECURSIVE sup AS (
        SELECT x.l_partkey AS a, y.l_partkey AS b, COUNT(*) AS support
        FROM lineitem x
        JOIN lineitem y ON y.l_orderkey = x.l_orderkey
                       AND x.l_partkey < y.l_partkey
        GROUP BY 1, 2),
      und AS (SELECT a, b FROM sup
              WHERE support > 2*(SELECT AVG(support) FROM sup)),
      e AS (SELECT a AS u, b AS v FROM und
            UNION ALL SELECT b, a FROM und),
      reach(node, lab) AS (
        SELECT u, u FROM e
        UNION
        SELECT e.v, r.lab FROM reach r JOIN e ON r.node = e.u),
      comp AS (SELECT node, MIN(lab) AS label FROM reach GROUP BY node)
      SELECT label AS component, CAST(COUNT(*) AS BIGINT) AS n_members
      FROM comp GROUP BY label ORDER BY component""",
    "graph_triangles" -> """
      WITH flows AS (SELECT c.c_nationkey AS src, s.s_nationkey AS dst
                     FROM customer c
                     JOIN orders o ON o.o_custkey = c.c_custkey
                     JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                     JOIN supplier s ON s.s_suppkey = l.l_suppkey
                     WHERE c.c_nationkey <> s.s_nationkey),
           sup AS (SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b,
                          COUNT(*) AS support
                   FROM flows GROUP BY 1, 2),
           und AS (SELECT a, b FROM sup
                   WHERE support > (SELECT AVG(support) FROM sup)),
           deg AS (SELECT v, COUNT(*) AS deg
                   FROM (SELECT a AS v FROM und
                         UNION ALL SELECT b FROM und) GROUP BY v),
           tri AS (SELECT COUNT(*) AS n
                   FROM und t1
                   JOIN und t2 ON t2.a = t1.a AND t2.b > t1.b
                   JOIN und t3 ON t3.a = t1.b AND t3.b = t2.b),
           wed AS (SELECT CAST(SUM(deg*(deg-1))/2 AS BIGINT) AS w FROM deg)
      SELECT CAST(tri.n AS BIGINT) AS n_triangles, wed.w AS n_wedges,
             ROUND(3.0*tri.n/wed.w, 6) AS global_cc
      FROM tri, wed"""
  ).map { case (k, v) => k -> v.stripMargin.trim }
}
