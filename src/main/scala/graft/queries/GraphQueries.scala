package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Cut.cut
import graft.sources.Tables

/** Iterative graph algorithms beyond connected components (q79's
  * path-halving CC): PageRank-style link analysis, expressed as unrolled
  * DataFrame iterations in exact BIGINT fixed-point arithmetic so the
  * result is bit-identical under any partitioning AND restatable as
  * unrolled MATERIALIZED CTEs in the DuckDB oracle — the q119/q125
  * trainer recipe applied to graph centrality.
  *
  * Production context: link-graph centrality is a standard web-curation
  * quality signal (Common Crawl publishes harmonic-centrality /
  * PageRank-ranked host lists; OpenWebText selected by inbound-link
  * karma) — the ranking stage that runs BEFORE per-document quality
  * models (q125) see anything. The same iteration shape serves
  * personalized PageRank for seed-set expansion ("find more pages like
  * the trusted ones"), the curation move behind LinkBERT-style corpus
  * assembly.
  */
object GraphQueries {

  /** PAGERANK over the supplier CO-SUPPLY graph (q134): nodes are
    * suppliers, an edge links two suppliers that ship lines of the same
    * order (the co-citation projection of the bipartite order–supplier
    * graph). Rank is the standard damped iteration (d = 0.85, 3 rounds)
    * with dangling-mass redistribution, in exact parts-per-billion
    * BIGINT.
    *
    * Scale shape: the edge projection is a keyed equi-self-join on
    * l_orderkey — per-key fanout bounded by lines-per-order (≤ 7 in
    * TPC-H), so candidate volume is rows × lines-per-order, NEVER
    * all-pairs — followed by one fixed-width distinct; it materializes
    * once (localCheckpoint) and every iteration reuses it. Each
    * iteration is the Pregel message-passing shape without the RDD API:
    * one edge ⋈ rank equi-join, one dst-keyed partial-agg sum, one
    * node-sized rebuild with the 1-row N / dangling aggregates attached
    * as broadcasts. At 100 TB: edges shuffle-partition by src once,
    * iterations touch the node-sized rank table against that layout —
    * the exact GraphX/Pregel cost model, with Catalyst codegen on the
    * arithmetic.
    *
    * Reference anchor: the reference has no graph operator at all
    * (`batch_process.py` is flat SQL); this is parity-plus for the
    * crawl-curation pipeline. */
  def q134PagerankSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val (edges, nodes) = coSupplyGraph(spark, dir)
    pageRank(edges, nodes, iters = 3)
      .select(col("node").as("suppkey"), col("rank_ppb"))
      .orderBy(desc("rank_ppb"), asc("suppkey"))
  }

  /** TRUSTRANK over the same graph (q139): PageRank with the teleport
    * (and dangling) mass restricted to a TRUSTED SEED SET (Gyöngyi,
    * Garcia-Molina & Pedersen, VLDB 2004) — the seed-set-expansion move
    * behind spam-demotion and "find more pages like the audited good
    * ones" crawl curation. Seeds here are the 4 lowest supplier ids
    * (the deterministic stand-in for a human-audited whitelist); trust
    * flows only along co-supply edges, so unreachable nodes score 0 —
    * the separation PageRank's uniform teleport deliberately erases.
    * Same exact ppb integer rounds, same oracle recipe; classic
    * PageRank IS this operator with seeds = all nodes ([[pageRank]]
    * delegates, so one code path serves both). */
  def q139TrustrankSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val (edges, nodes) = coSupplyGraph(spark, dir)
    val seeds = nodes.orderBy("node").limit(4)
    pageRankSeeded(edges, nodes, seeds, iters = 3)
      .select(col("node").as("suppkey"), col("rank_ppb").as("trust_ppb"))
      .orderBy(desc("trust_ppb"), asc("suppkey"))
  }

  /** The co-supply projection both rank queries share: suppliers are
    * nodes, an edge links suppliers shipping lines of the same order.
    *
    * r19 optimization (guide §2.3/§2.4): the old shape self-joined the
    * (order, supplier) projection on the order key — two exchanges of the
    * full line table feeding a fanned-out join — then deduplicated the
    * whole both-directions pair stream. Now ONE groupBy(order) collects
    * each order's distinct supplier set (map-side combined, sets bounded
    * by lines-per-order), pairs explode map-only from the set with
    * src < dst, and only ordered half-pairs cross the dedup aggregate;
    * the mirror direction is a narrow union above the distinct. One
    * corpus exchange instead of two and half the distinct volume — the
    * edge set is bit-identical (counted + exceptAll-equal both ways). */
  private def coSupplyGraph(spark: SparkSession,
                            dir: String): (DataFrame, DataFrame) = {
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_suppkey").as("sk"))
    // Session memo (r20): the projection is the STANDING ARTIFACT all
    // four rank consumers (q134/q139/q146 + q144's authority arm on its
    // own graph) read — a production ranking job stores the edge list
    // and iterates on it, it does not re-project the line table per
    // ranking dial. Keyed on the line table's plan through
    // [[graft.Artifacts]]; lazily cut so materialization rides the first
    // consumer's job.
    graft.Artifacts(li, "co-supply") {
      val half = cut("coSupplyGraph.half", // feeds both union arms
        li.groupBy("ok").agg(collect_set(col("sk")).as("sks"))
          .select(explode(col("sks")).as("src"), col("sks"))
          .select(col("src"), explode(col("sks")).as("dst"))
          .filter(col("src") < col("dst"))
          .select("src", "dst").distinct())
      val edges = half
        .union(half.select(col("dst").as("src"), col("src").as("dst")))
      val nodes = li.select(col("sk").as("node")).distinct()
      (cut("coSupplyGraph.edges", edges), cut("coSupplyGraph.nodes", nodes))
    }
  }

  /** The reusable operator: damped PageRank (d = 0.85) over any
    * (src, dst) edge frame and (node) frame, `iters` unrolled rounds,
    * ranks in parts-per-billion BIGINT. Dangling nodes (no out-edges)
    * redistribute their mass uniformly — the standard fix, and the case
    * a real crawl graph always has. All arithmetic is integer `div` in
    * a fixed association order, so the result is bit-identical under
    * any partitioning (PageRankSpec pins it) and restatable in ANSI SQL.
    *
    * Iteration state is ONE node-sized (node, r) table; edges and
    * degrees materialize once via localCheckpoint (they are consumed by
    * every round — without it Spark would recompute the corpus-sized
    * edge projection per round, the q117 lineage lesson). */
  def pageRank(edgesIn: DataFrame, nodesIn: DataFrame,
               iters: Int): DataFrame =
    pageRankSeeded(edgesIn, nodesIn, nodesIn, iters)

  /** The seeded core: teleport and dangling mass go uniformly to the
    * SEED set; seeds = all nodes recovers classic PageRank exactly
    * (is_seed ≡ 1 collapses the arithmetic to the uniform formula,
    * term for term). */
  def pageRankSeeded(edgesIn: DataFrame, nodesIn: DataFrame,
                     seedsIn: DataFrame, iters: Int): DataFrame = {
    val st = prInit(edgesIn, nodesIn, seedsIn)
    var r = prStart(st)
    for (i <- 1 to iters) {
      // Materialize the node-sized rank table per round (the q135 /
      // kmeansCentroids discipline): r is consumed TWICE next round
      // (contrib and dangling), so an unrolled plan would duplicate
      // every earlier round's subtree ~2× per round — 2^iters copies.
      // The LAST round stays unmaterialized so the returned plan is one
      // round's auditable shape (PlanPinsSpec / PLANS.md read it).
      r = prRound(st, r)
      if (i < iters) r = cut("pageRankSeeded.r", r, eager = true)
    }
    r.select(col("node"), col("r").as("rank_ppb"))
  }

  /** CONVERGENCE-CHECKED seeded PageRank — the production dial on the
    * same arithmetic: rounds run until the L1 rank delta
    * Σ|r_i − r_{i−1}| drops below `epsPpb` (or `maxIters` caps it), and
    * the result carries `rounds_taken` so the stopping decision itself
    * is oracle-checked (the q128 "certify the production parameter"
    * move: q139 registers the fixed-rounds dial, this registers the
    * until-converged one). The per-round delta is a 1-row aggregate on
    * the node-sized rank table — the trainer-loop artifact class
    * (q104/q125), not a data-path collect; everything else is
    * [[pageRankSeeded]]'s exact integer round, so the adaptive stop is
    * reproducible bit for bit in any engine: both sides compute
    * identical deltas and therefore stop at the identical round. */
  def pageRankSeededConverged(edgesIn: DataFrame, nodesIn: DataFrame,
                              seedsIn: DataFrame, epsPpb: Long,
                              maxIters: Int): DataFrame = {
    require(epsPpb >= 0 && maxIters >= 1)
    val st = prInit(edgesIn, nodesIn, seedsIn)
    var rPrev = cut("pageRankSeededConverged.rPrev", prStart(st), eager = true)
    var rBase = rPrev // r_{k-1}: the final round is re-derived from it
    var rounds = 0
    var delta = Long.MaxValue
    while (rounds < maxIters && delta >= epsPpb) {
      rBase = rPrev
      // carryPrev rides r_{k-1} through the round, so the L1 delta is a
      // map-only 1-row aggregate over the checkpointed round result —
      // the r19 CC convergence-count move (guide §2.4: the old shape
      // re-joined rNext to rPrev on node per round). r_prev is dropped
      // before the next round so the checkpoint blocks stay narrow.
      val rNext = cut("pageRankSeededConverged.rNext",
        prRound(st, rPrev, carryPrev = true), eager = true)
      delta = rNext
        .agg(coalesce(sum(abs(col("r") - col("r_prev"))), lit(0L)))
        .collect()(0).getLong(0)
      rPrev = rNext.drop("r_prev")
      rounds += 1
    }
    // Re-derive the last round unmaterialized from r_{k-1} so the
    // registered plan keeps one auditable round shape (same values as
    // the checkpointed rPrev — prRound is deterministic).
    prRound(st, rBase)
      .select(col("node"), col("r").as("rank_ppb"),
        lit(rounds.toLong).as("rounds_taken"))
  }

  /** Shared iteration state: edges (localCheckpointed once — every round
    * reuses them) and the seed count, collected once as a driver Long
    * (1-row trainer-loop artifact — the q104/q135 idiom) so the per-round
    * update expression inlines it instead of re-broadcasting a 1-row
    * aggregate each round. The rank table itself carries (is_seed, deg)
    * per node — r19 optimization: the old shape re-joined the flagged and
    * out-degree tables into every round (two extra node joins + one
    * edge-sized join per round); carrying both columns through the
    * checkpointed rank table makes each round ONE edge equi-join +
    * ONE node left-join + one 1-row dangling broadcast (guide §2.4:
    * remove shuffles outright — per-round exchanges dropped ~2×, values
    * bit-identical, PageRankSpec partition-invariance unchanged).
    *
    * Seeds and nodes are deduplicated defensively: a duplicate row in
    * either input would fan out the node table and double-count
    * teleport/rank mass for that node — the operator is exported as a
    * general API, so it must not depend on caller-side uniqueness. */
  private final case class PrState(edges: DataFrame, flagged: DataFrame,
                                   ns: Long)

  private def prInit(edgesIn: DataFrame, nodesIn: DataFrame,
                     seedsIn: DataFrame): PrState = {
    val edges = cut("prInit.edges", edgesIn, eager = true)
    val outdeg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val flagged = cut("prInit.flagged", nodesIn.select(col("node")).distinct()
      .join(seedsIn.select(col("node")).distinct()
          .withColumn("is_seed", lit(1L)),
        Seq("node"), "left")
      .join(outdeg.select(col("src").as("node"), col("deg")),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(0L)).as("is_seed"),
        coalesce(col("deg"), lit(0L)).as("deg")), eager = true)
    val ns = flagged.agg(coalesce(sum("is_seed"), lit(0L)))
      .collect()(0).getLong(0)
    PrState(edges, flagged, ns)
  }

  /** r_0: all mass uniformly on the seed set. The rank table carries
    * (is_seed, deg) so rounds never re-join the node metadata. */
  private def prStart(st: PrState): DataFrame =
    st.flagged.select(col("node"), col("is_seed"), col("deg"),
      expr(s"is_seed * (1000000000 div ${st.ns})").as("r"))

  /** One damped round: contrib = dst-keyed sum of r/deg over edges,
    * dangling mass back to the seeds, exact ppb integer update. The
    * per-source share `r div deg` is computed on the NODE table before
    * the edge join (same integer value — deg is constant per src), so
    * the round's only edge-sized operations are one equi-join and the
    * partial-aggregated contrib sum; dangling mass is a map-only filter
    * over the rank table (deg = 0), not an anti-join.
    *
    * The edge join is pinned to a shuffled hash join built on the
    * node-sized share side. Left to the planner, an edge cut whose size
    * estimate comes from a parquet scan of the line table falls under
    * the broadcast threshold, and every round then broadcasts the
    * corpus-sized edge list (`BroadcastHashJoin BuildLeft`). */
  private def prRound(st: PrState, r: DataFrame,
                      carryPrev: Boolean = false): DataFrame = {
    val contrib = st.edges
      .join(r.filter(col("deg") > 0)
          .select(col("node").as("src"), expr("r div deg").as("c"))
          .hint("shuffle_hash"),
        Seq("src"))
      .groupBy("dst").agg(sum("c").as("contrib"))
    val dang = r.filter(col("deg") === 0)
      .agg(coalesce(sum("r"), lit(0L)).as("dang"))
    val base = Seq(col("node"), col("is_seed"), col("deg"))
    val pre = if (carryPrev) base :+ col("r").as("r_prev") else base
    val post = if (carryPrev) base :+ col("r_prev") else base
    r.select(pre: _*)
      .join(contrib, col("node") === col("dst"), "left")
      .crossJoin(broadcast(dang))
      .select((post :+
        expr(s"(150 * is_seed * (1000000000 div ${st.ns}) + " +
          s"850 * (coalesce(contrib, 0) + is_seed * (dang div ${st.ns}))) " +
          "div 1000").as("r")): _*)
  }

  /** TRUSTRANK UNTIL CONVERGED (q146): q139's seeded trust propagation
    * run to the ε = 10⁶ ppb (0.1 % of total mass) L1 fixed point, cap
    * 10 — the dial a production ranking job actually ships (fixed
    * 3-round PageRank is the oracle-friendly teaching dial; real jobs
    * iterate until the ranking stabilizes). The seeded start (all mass
    * on 4 seeds) is maximally far from the fixed point, so the delta
    * decays geometrically and the stopping round genuinely varies with
    * the graph (4 rounds at sf0.001, 3 at sf0.01 — measured), which is
    * exactly what the `rounds_taken` column certifies cross-engine. */
  def q146TrustrankConverged(spark: SparkSession, dir: String): DataFrame = {
    val (edges, nodes) = coSupplyGraph(spark, dir)
    val seeds = nodes.orderBy("node").limit(4)
    pageRankSeededConverged(edges, nodes, seeds,
      epsPpb = 1000000L, maxIters = 10)
      .select(col("node").as("suppkey"), col("rank_ppb").as("trust_ppb"),
        col("rounds_taken"))
      .orderBy(desc("trust_ppb"), asc("suppkey"))
  }
}
