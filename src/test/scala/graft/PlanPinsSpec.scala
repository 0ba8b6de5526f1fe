package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan pins for the round-7 operators (the PLANS.md contract,
  * asserted instead of eyeballed — GeoGridRuleSpec pattern): the SHAPE
  * that makes q57/q58 scale-safe must survive refactors.
  *
  *   - q57: the full-cardinality bigram relation is NEVER hash-shuffled;
  *     the only hash exchange is the exact count keyed on the ≤ k
  *     broadcast-joined candidates (plus the sketch's single-partition
  *     fold and the final order-by range exchange).
  *   - q58: the as-of join is the union-and-sweep — no join operator at
  *     all in the plan, one window sweep, key-hash exchanges bounded by
  *     the upstream dedup + the window (never a range-pair explosion).
  */
class PlanPinsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private def hashExchanges(plan: String): Seq[String] =
    "Exchange hashpartitioning\\(([^)]*)\\)".r
      .findAllMatchIn(plan).map(_.group(1)).toSeq

  test("q57: exact pass shuffles only on the broadcast candidate join") {
    // Release the doc-family shared caches first: a MATERIALIZED cache of
    // the tiny fixture is a single partition, which lets EnsureRequirements
    // (correctly) elide every exchange — the pin asserts the canonical
    // multi-partition plan shape, not the one-partition degenerate.
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q57_boilerplate_ngrams")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_mg_candidates"),
      s"sketch aggregate missing from plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"candidate join is not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"unexpected join strategy:\n$plan")
    val hx = hashExchanges(plan)
    // ONE hash exchange: the post-join exact groupBy (keyed on tok +
    // n_total). A second would mean the raw bigram universe is being
    // shuffled — exactly what the sketch pass exists to avoid.
    assert(hx.size == 1 && hx.head.contains("tok"),
      s"expected exactly one hash exchange on the candidate-joined slots, got $hx:\n$plan")
  }

  test("q03: global min/max/total ride a broadcast one-row aggregate — no window") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val nodes = PlanAudit.collectAll(PlanAudit.physical(
      SparkEntry.queries("q03_busiest_suppliers")(spark, sfDir)))
    assert(nodes.collect { case w: WindowExec => w }.isEmpty,
      s"a window over the per-supplier table runs in one task:\n${nodes.head.treeString}")
    assert(nodes.exists(_.isInstanceOf[BroadcastExchangeExec]),
      s"expected the one-row stats to be broadcast:\n${nodes.head.treeString}")
  }

  test("q59: per-doc repetition is map-only — zero hash exchanges") {
    val plan = SparkEntry.queries("q59_docs_repetition")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hx = hashExchanges(plan)
    assert(hx.isEmpty,
      s"per-doc fold must not shuffle, got hash exchanges $hx:\n$plan")
  }

  test("q61: sessionization plans ONE exchange — window partitioning feeds the groupBy") {
    val plan = SparkEntry.queries("q61_batch_sessionize")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"no window in plan:\n$plan")
    val hx = hashExchanges(plan)
    // hashpartitioning(user_id) for the lag/cumsum window also satisfies
    // the (user_id, sid) groupBy's clustering (subset co-locates the
    // superset) — a second exchange would mean Spark re-shuffled data
    // that is already key-local.
    assert(hx.size == 1 && hx.head.contains("user_id"),
      s"expected exactly one user_id exchange, got $hx:\n$plan")
  }

  test("q67: cube is one Expand + one hash exchange — no per-grouping-set re-scan") {
    val plan = SparkEntry.queries("q67_cube_grouping")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"cube must plan an Expand:\n$plan")
    val hx = hashExchanges(plan)
    // All four grouping sets ride ONE shuffle of partially-aggregated
    // expanded rows; a second hash exchange (or none and a re-scan per
    // set) would break the single-pass claim.
    assert(hx.size == 1, s"expected one hash exchange, got $hx:\n$plan")
  }

  test("q72: grouping sets expands to the NAMED sets only — never the cross product") {
    val plan = SparkEntry.queries("q72_grouping_sets")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Expand"), s"grouping sets must plan an Expand:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.size == 1, s"expected one hash exchange, got $hx:\n$plan")
    // The un-requested (yr, pri) cross set would only exist as a 4th
    // Expand projection — assert exactly the 3 named sets are emitted
    // (vs q67's cube, whose Expand carries 4).
    val expand = SparkEntry.queries("q72_grouping_sets")(spark, sfDir)
      .queryExecution.optimizedPlan.collectFirst {
        case e: org.apache.spark.sql.catalyst.plans.logical.Expand => e
      }
    assert(expand.map(_.projections.size).contains(3),
      s"expected 3 expand projections (named sets), got ${expand.map(_.projections.size)}")
  }

  test("q68: pivot is the two-phase aggregate — both exchanges carry aggregated rows") {
    val df = SparkEntry.queries("q68_pivot_priorities")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    val hx = hashExchanges(plan)
    // Spark rewrites pivot to: pre-aggregate on (status, priority) —
    // map-combinable, output ≤ |status|·|priorities| rows — then the pivot
    // aggregate on status. Two exchanges, neither carrying raw rows; a
    // raw-row second exchange or a join would mean the rewrite regressed.
    assert(hx.size == 2, s"expected the two-phase pivot shape, got $hx:\n$plan")
    assert(hx.exists(k => k.contains("o_orderstatus") && k.contains("o_orderpriority")),
      s"pre-aggregate exchange on the composite key missing: $hx\n$plan")
    assert(!plan.contains("Join"), s"pivot must not plan a join:\n$plan")
  }

  test("q69: RANGE window runs over the daily aggregate, not raw orders") {
    val plan = SparkEntry.queries("q69_rolling_window")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("RangeFrame, -6, currentrow"),
      s"range frame missing:\n$plan")
    // The window's sort/exchange must sit ABOVE the hash aggregate in the
    // operator chain — i.e. the aggregate appears below the Window node —
    // so each per-key series an executor sorts is calendar-bounded.
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"window must consume the aggregate, not raw rows:\n$plan")
  }

  /** The q108/q70 two-level-rank pin: no window in the plan may
    * partition by the stratum alone over corpus-scale input — every
    * single-key window must consume a grouped AGGREGATE (the ≤ strata ×
    * √n bucket table), and the corpus-scale rank windows must carry the
    * bucket in their partition spec. This is the structural invariant
    * that kills the q90-class per-stratum funnel (a dominant source
    * serializing into one task) for the exact-rank family. */
  private def assertTwoLevelRank(name: String): Unit = {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    Artifacts.clear(spark)
    val wins = PlanAudit.collectAll(PlanAudit.physical(
        SparkEntry.queries(name)(spark, sfDir)))
      .collect { case w: WindowExec => w }
    assert(wins.nonEmpty, s"$name: expected window operators in the plan")
    val badStratum = wins.filter { w =>
      w.partitionSpec.size < 2 &&
        w.child.collect {
          case a: BaseAggregateExec if a.groupingExpressions.nonEmpty => a
        }.isEmpty
    }
    assert(badStratum.isEmpty,
      s"$name: single-key window over non-aggregated (corpus-scale) input:\n" +
        badStratum.map(_.treeString).mkString("\n"))
    assert(wins.exists(_.partitionSpec.size >= 2),
      s"$name: expected a (stratum, bucket)-partitioned rank window")
  }

  test("q70: two-level exact rank — no per-lang window over the corpus") {
    assertTwoLevelRank("q70_curriculum_deciles")
    val plan = SparkEntry.queries("q70_curriculum_deciles")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // "ntile(" — the window function call; plain "ntile" would also match
    // the two-level operator's own perce*ntile*_approx cutpoint aggregate.
    assert(!plan.contains("ntile("),
      s"ntile must be restated over the exact rank, not windowed:\n$plan")
  }

  test("q108: two-level exact rank — no per-source window over the corpus") {
    assertTwoLevelRank("q108_quality_calibration")
    val plan = SparkEntry.queries("q108_quality_calibration")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("percent_rank"),
      s"percent_rank must be restated over the exact rank:\n$plan")
  }

  test("madOutlierGate: one exchange under a partial value count, every window above it") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateMode, Final, Partial}
    import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.functions.col
    Artifacts.clear(spark)
    val gate = graft.queries.DocQueries.madOutlierGate(
      graft.sources.Tables(spark, sfDir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars")), 3L)
    val nodes = PlanAudit.collectAll(PlanAudit.physical(gate))
    def valueCount(mode: AggregateMode)(a: BaseAggregateExec): Boolean =
      a.groupingExpressions.map(_.name) == Seq("source", "n_chars") &&
        a.aggregateExpressions.nonEmpty &&
        a.aggregateExpressions.forall(_.mode == mode)
    val counts = nodes.collect {
      case a: BaseAggregateExec if valueCount(Final)(a) => a
    }
    assert(counts.size == 1,
      s"expected one (source, n_chars) value count:\n${gate.queryExecution.executedPlan}")
    val vc = counts.head
    // Corpus rows cross exactly one exchange, after a map-side partial
    // count: a second one (or none over a partial) means corpus rows
    // are shuffled for the medians again.
    val below = vc.collect { case e: ShuffleExchangeExec => e }
    assert(below.size == 1 && below.head.child.exists {
        case a: BaseAggregateExec => valueCount(Partial)(a)
        case _ => false
      }, s"expected one exchange over a partial value count:\n${vc.treeString}")
    // Every median/MAD window reads histogram rows, never corpus rows.
    val wins = nodes.collect { case w: WindowExec => w }
    assert(wins.nonEmpty && wins.forall(_.exists(_ eq vc)),
      s"a window does not sit above the value count:\n${wins.map(_.treeString).mkString("\n")}")
    // No lineage cut: the gate builds without running a job.
    assert(!gate.queryExecution.optimizedPlan.exists(_.isInstanceOf[LogicalRDD]) &&
      !nodes.exists(_.isInstanceOf[RDDScanExec]),
      s"unexpected checkpoint in the gate:\n${gate.queryExecution.optimizedPlan}")
  }

  test("q111: Hamming shortlist cuts map-side — Partial WindowGroupLimit below the q_id exchange") {
    val plan = SparkEntry.queries("q111_embed_binary_topk")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // The 50-row shortlist must be taken per input partition BEFORE the
    // per-query exchange (partial top-k), so the shuffle carries
    // ≤ 50 × partitions × queries rows, never the corpus × queries scan.
    assert(plan.contains("row_number(), 50, Partial"),
      s"shortlist is not a partial (map-side) WindowGroupLimit:\n$plan")
    assert(plan.contains("row_number(), 10, Final"),
      s"final top-k cut missing:\n$plan")
    // The only corpus-side join is the bounded ×5 broadcast of queries.
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"query fan-out must be broadcast:\n$plan")
  }

  test("q73: gap-fill scaffold joins keyed and fills over the aggregate — no row blowup") {
    val plan = SparkEntry.queries("q73_gap_fill")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Generate explode(sequence"),
      s"calendar scaffold missing:\n$plan")
    Seq("CartesianProduct", "BroadcastNestedLoopJoin").foreach(j =>
      assert(!plan.contains(j), s"scaffold join must stay keyed, not a $j:\n$plan"))
    // The fill window consumes the daily aggregate (calendar-bounded
    // series), never raw orders — same containment pin as q69.
    val winIdx = plan.indexOf("Window")
    val aggIdx = plan.lastIndexOf("HashAggregate")
    assert(winIdx >= 0 && aggIdx > winIdx,
      s"fill window must sit above the daily aggregate:\n$plan")
  }

  test("q77: chunking is map-only — zero hash exchanges (q59 pin)") {
    val plan = SparkEntry.queries("q77_doc_chunks")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hx = hashExchanges(plan)
    assert(hx.isEmpty,
      s"chunk explode/slice must not shuffle, got hash exchanges $hx:\n$plan")
    assert(plan.contains("Generate explode"),
      s"chunk-index explode missing:\n$plan")
  }

  test("q78: the coverage window consumes the 200-row top-k, never the vocabulary") {
    val plan = SparkEntry.queries("q78_vocab_coverage")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // TakeOrderedAndProject (the global top-k) must sit BELOW the running-
    // total window: the unpartitioned window's single task then sorts 200
    // rows at any corpus size, not the token vocabulary.
    val winIdx = plan.indexOf("Window")
    val topkIdx = plan.lastIndexOf("TakeOrderedAndProject")
    assert(winIdx >= 0 && topkIdx > winIdx,
      s"window must consume the bounded top-k, not the vocabulary:\n$plan")
    // One corpus-scale exchange: the word-count groupBy (partial-combined).
    val hx = hashExchanges(plan).filter(_.contains("tok"))
    assert(hx.size == 1,
      s"expected exactly the word-count exchange on tok, got $hx:\n$plan")
  }

  test("q79: iterated label state is checkpoint-severed — the final plan never re-enters the corpus") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q79_dedup_clusters")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // Every propagation round ends in a localCheckpoint, so the returned
    // frame's lineage starts at a materialized RDD: re-running the result
    // (or losing a partition of it) must never replay the corpus joins —
    // at 100 TB an un-severed 10-round lineage is a 10x recompute bomb.
    assert(plan.contains("Scan ExistingRDD"),
      s"label table must start from the checkpointed RDD:\n$plan")
    assert(!plan.contains("Scan parquet"),
      s"corpus scan leaked into the final cluster plan:\n$plan")
    // One hash exchange: the cluster_id window that counts component
    // sizes. More would mean the node table is re-shuffled redundantly.
    val hx = hashExchanges(plan)
    assert(hx.size == 1 && hx.head.contains("cluster_id"),
      s"expected exactly the cluster_id window exchange, got $hx:\n$plan")
  }

  test("q80: tf-idf shuffles keyed columns only — raw token arrays never cross an exchange") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q80_tfidf_keywords")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hx = hashExchanges(plan)
    // The token array is exploded away BEFORE every exchange (shuffles
    // carry (doc_id, term) keys plus counts, never `toks`), and the tf
    // aggregate is planned exactly ONCE (one partial + one final): df
    // derives from the cached corpus, not from tf — aggregating over the
    // tf frame plans the whole tf subtree twice, once per consumer.
    // (A map-only in-row tf variant is deliberately NOT used: its
    // index-lambda HOFs re-ran the inlined array_sort per element —
    // 12.4 s vs sub-second at sf0.1; see the operator scaladoc.)
    assert(hx.forall(!_.contains("toks")),
      s"token array crossed an exchange:\n$plan")
    val tfAggs = "HashAggregate\\(keys=\\[doc_id[^,]*, term[^\\]]*\\]".r
      .findAllMatchIn(plan).size
    assert(tfAggs == 2,
      s"tf aggregate must plan once (partial+final), found $tfAggs:\n$plan")
    assert(hx.size <= 4,
      s"expected at most tf + df + join + window exchanges, got $hx:\n$plan")
    assert(plan.contains("Window"), s"ranking window missing:\n$plan")
  }

  test("q76: approx-cutpoint deciles plan NO window — cuts aggregate + broadcast + map-only binning") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q76_decile_cutpoints")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // The whole point vs q70: no per-stratum sort of the raw corpus. A
    // Window operator anywhere means the rank path crept back in.
    assert(!plan.contains("Window"),
      s"q76 must not plan a window:\n$plan")
    assert(plan.contains("percentile_approx"),
      s"cutpoint sketch aggregate missing:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"cutpoint table must broadcast back onto the corpus:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"unexpected join strategy:\n$plan")
  }

  test("q66: hash-order candidates stay map-only to the join; DF order adds exactly the DF aggregate + join") {
    // Same cache release as the q57 pin (single-partition degenerate).
    Artifacts.clear(spark)
    val docs = graft.sources.Tables(spark, sfDir, "documents")
    def plan(dfOrder: Boolean): String =
      graft.queries.DocQueries.containmentCandidates(docs, 0.8, dfOrder)
        .queryExecution.executedPlan.toString
    val aggOnShingle = "HashAggregate\\(keys=\\[g#".r
    def joins(p: String): Int =
      Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")
        .map(j => j.r.findAllMatchIn(p).size).sum
    val hashPlan = plan(dfOrder = false)
    // Shipped default: prefix extraction is in-row (array_sort + slice) —
    // no aggregate keyed on the shingle hash may exist; the only joins are
    // the single prefix-vs-all equi-join.
    assert(aggOnShingle.findFirstIn(hashPlan).isEmpty,
      s"hash order must not build a shingle-DF table:\n$hashPlan")
    assert(joins(hashPlan) == 1,
      s"hash order plans exactly the candidate equi-join:\n$hashPlan")
    val dfPlan = plan(dfOrder = true)
    // Flagged variant: the corpus-wide shingle-DF groupBy and its
    // re-attach join are the DOCUMENTED extra cost — pin that it is
    // exactly those two operators, no more.
    assert(aggOnShingle.findFirstIn(dfPlan).isDefined,
      s"df order must build the shingle-DF table:\n$dfPlan")
    assert(joins(dfPlan) == 2,
      s"df order plans the DF re-attach join plus the candidate join:\n$dfPlan")
  }

  test("q81: BM25 prunes to query-term postings before any exchange; df/stats/query joins broadcast") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q81_bm25_search")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // The isin prune runs on exploded terms BEFORE the tf aggregate's
    // exchange — the only corpus-scale shuffle carries pruned postings.
    assert("Filter .*term#\\d+ IN".r.findFirstIn(plan).isDefined,
      s"query-vocabulary prune missing below the tf aggregate:\n$plan")
    // doc length rides the tf grouping key — a doc_id-keyed join of two
    // corpus-sized relations would be a second corpus shuffle.
    val hx = hashExchanges(plan)
    assert(!hx.exists(k => k.startsWith("doc_id") && !k.contains("term")),
      s"corpus-wide doc_id exchange means the dl join crept back: $hx\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"df/stats/query joins must broadcast:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected broadcast term joins:\n$plan")
    assert(plan.contains("Window"), s"ranking window missing:\n$plan")
  }

  test("q82: interval containment is a cell EQUI semi join, never a nested loop") {
    val plan = SparkEntry.queries("q82_interval_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // The whole point of the temporal grid: the range predicate alone
    // would plan BroadcastNestedLoopJoin over every (event, window) pair.
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"containment fell back to a nested loop:\n$plan")
    val semi = "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cell[^\\]]*\\], \\[wcell[^\\]]*\\], LeftSemi".r
    assert(semi.findFirstIn(plan).isDefined,
      s"expected a cell-keyed LeftSemi equi join:\n$plan")
  }

  test("q83: funnel plans ONE user_id exchange — both windows and the groupBy share it") {
    val plan = SparkEntry.queries("q83_funnel")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"no stage windows in plan:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.size == 1 && hx.head.contains("user_id"),
      s"expected exactly the user_id window exchange, got $hx:\n$plan")
  }

  test("q84: hybrid RRF keeps both arms' shapes — semi-join prunes, no cartesian, top-k limited") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q84_hybrid_rrf")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // The lexical arm's derived-term prunes must stay broadcast semi
    // joins (q81's isin becomes a hashed-relation probe) and the only
    // nested loops are the intended 1-row/bounded broadcast crosses
    // (stats, n_docs, the q27 brute-force query side) — never a
    // CartesianProduct pair scan.
    assert(!plan.contains("CartesianProduct"),
      s"unexpected cartesian in the fusion plan:\n$plan")
    assert("BroadcastHashJoin \\[term[^\\]]*\\], \\[term[^\\]]*\\], LeftSemi".r
      .findAllMatchIn(plan).size >= 2,
      s"expected broadcast semi-join term prunes on tf and df:\n$plan")
    // Both arms rank-limit BEFORE fusion: the rank windows carry
    // WindowGroupLimit, so the fuse joins top-k rows, not candidates.
    assert("WindowGroupLimit".r.findAllMatchIn(plan).size >= 4,
      s"expected partial+final group limits on both arms:\n$plan")
  }

  test("q85: Z-order key derivation is map-only — one hash exchange at the audit aggregate") {
    val plan = SparkEntry.queries("q85_zorder_layout")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // The 1-row maxima broadcast is the only join; normalization,
    // spreading, interleaving and bucketing are projections, so the only
    // hash exchange is the 64-group audit groupBy.
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"maxima must broadcast:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.size == 1 && hx.head.contains("bucket"),
      s"expected exactly the bucket aggregate exchange, got $hx:\n$plan")
  }

  test("q58: as-of join is the union-and-sweep — window pass, no join operator") {
    val plan = SparkEntry.queries("q58_asof_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Window"), s"no window sweep in plan:\n$plan")
    Seq("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct").foreach(j =>
      assert(!plan.contains(j), s"as-of must not plan a $j:\n$plan"))
    // Key-hash exchanges only: the right-side dedup groupBy and the
    // window's user_id partitioning — both keyed, neither a pair blowup.
    val hx = hashExchanges(plan)
    assert(hx.size <= 2 && hx.forall(_.contains("user_id")),
      s"unexpected exchanges $hx:\n$plan")
  }

  test("q87: Jaccard join keeps q66's candidate shape — no cartesian, no shingle-DF aggregate") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q87_docs_jaccard_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // The exact verify runs graft_overlap on re-attached hash arrays;
    // candidates come from the map-only prefix slice (no aggregate keyed
    // on the shingle hash), and nothing may degenerate to a pair blowup.
    assert(plan.contains("graft_overlap"),
      s"exact verify must use the codegen overlap expression:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"Jaccard join must stay an equi-join pipeline:\n$plan")
    assert("HashAggregate\\(keys=\\[g#".r.findFirstIn(plan).isEmpty,
      s"hash-order candidates must not build a shingle-DF table:\n$plan")
  }

  test("q25/q74: verify re-attaches hash arrays — no string array crosses a join or exchange") {
    import org.apache.spark.sql.catalyst.expressions.{ArrayIntersect, ArrayUnion}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    Artifacts.clear(spark)
    for (q <- Seq("q25_docs_minhash_neardup", "q74_incremental_dedup")) {
      val nodes = PlanAudit.collectAll(PlanAudit.physical(
        SparkEntry.queries(q)(spark, sfDir)))
      // The verify counts |A∩B| with graft_overlap over the sorted hash
      // arrays; a hash-set intersect/union per candidate pair means the
      // string verify crept back in.
      val setOps = nodes.flatMap(_.expressions.flatMap(_.collect {
        case e: ArrayIntersect => e
        case e: ArrayUnion => e
      }))
      assert(setOps.isEmpty, s"$q verifies with array set ops $setOps:\n${nodes.head.treeString}")
      // Every exchange carries ids, band keys or 8-byte hash arrays —
      // never the shingle strings (nor the token arrays).
      val stringExchanges = nodes.filter {
        case _: ShuffleExchangeExec | _: BroadcastExchangeExec => true
        case _ => false
      }.filter(_.output.exists(_.dataType match {
        case ArrayType(StringType, _) => true
        case _ => false
      }))
      assert(stringExchanges.isEmpty,
        s"$q moves string arrays through ${stringExchanges.map(_.output)}:\n${nodes.head.treeString}")
    }
  }

  test("q88: PMI shuffles keyed counts only — token arrays never cross an exchange") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q88_pmi_collocations")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"the scalar-total attach must broadcast:\n$plan")
    // Every hash exchange carries word/count slots (w1/w2/w or the
    // aggregate's partial), never the exploded corpus token stream with
    // its source arrays.
    val hx = hashExchanges(plan)
    assert(hx.nonEmpty && hx.forall(x => !x.contains("toks")),
      s"token arrays must not cross an exchange, got $hx:\n$plan")
  }

  test("q90: TV drift explodes the corpus ONCE — vocab table never funnels to one partition") {
    Artifacts.clear(spark)
    val df = SparkEntry.queries("q90_source_tv_drift")(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // c_w is a window HASH-PARTITIONED BY TOKEN over the vocab table;
    // the per-source/corpus totals broadcast-join back (q88 idiom) —
    // never an SMJ self-join of the re-derived aggregate.
    assert(plan.contains("Window"), s"no c_w window in plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-source totals must broadcast-join back:\n$plan")
    assert(!plan.contains("CartesianProduct") && !plan.contains("SortMergeJoin"),
      s"totals must attach as broadcasts, not shuffled joins:\n$plan")
    // Exactly ONE corpus-scale pass explodes tokens: the (source, w)
    // partial count. The per-source totals pass is a NARROW partial_sum
    // over size(toks) — no explode, map-combined to ≤ #sources rows.
    val passes = "partial_count".r.findAllMatchIn(plan).size
    assert(passes == 1,
      s"expected exactly one corpus-scale partial_count, got $passes:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.nonEmpty && hx.forall(x => !x.contains("toks")),
      s"token arrays must not cross an exchange, got $hx:\n$plan")
    // THE round-12 regression pin: the r12 shape put n_total behind
    // Window.partitionBy(), planning `Exchange SinglePartition` under
    // the vocab×sources table (the corpus-derived explode output) —
    // every SinglePartition exchange must now sit above either a global
    // partial aggregate or the tiny no-explode per-source aggregate,
    // never above anything with a Generate (explode) in its subtree.
    for (child <- PlanAudit.singlePartitionChildren(df))
      assert(!PlanAudit.hasGenerate(child),
        s"explode-derived rows funnel through one partition:\n$child")
  }

  test("q91: delta assignment broadcasts the quantizer — exchanges keyed on vec_id/cid only") {
    val plan = SparkEntry.queries("q91_ivf_delta_assign")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("graft_dot"),
      s"scoring must run the codegen dot expression:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the centroid attach must broadcast:\n$plan")
    // Corpus-side work shuffles only the per-vector argmax (vec_id) and
    // the ≤ nlist count rows (cid) — an embedding array crossing a hash
    // exchange would mean the scan side is being repartitioned.
    val hx = hashExchanges(plan)
    assert(hx.nonEmpty && hx.forall(x =>
      x.contains("vec_id") || x.contains("cid")),
      s"unexpected exchanges $hx:\n$plan")
  }

  test("q91: list totals come out of one global aggregate — no window") {
    import org.apache.spark.sql.execution.window.WindowExec
    val nodes = PlanAudit.collectAll(PlanAudit.physical(
      SparkEntry.queries("q91_ivf_delta_assign")(spark, sfDir)))
    assert(nodes.collect { case w: WindowExec => w }.isEmpty,
      s"a window over the list table runs in one task:\n${nodes.head.treeString}")
  }

  test("q92: stats collector reads the table ONCE — unpivot-then-aggregate, no per-column re-scan") {
    val plan = SparkEntry.queries("q92_table_stats")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // The unpivot-first shape: one Generate(stack) feeds one grouped
    // multi-aggregate. Spark's own multi-distinct rewrite of the
    // agg-then-unpivot form splits into TWO joined scans — the shape
    // this pin exists to reject.
    assert(plan.contains("Generate stack"),
      s"stats must unpivot via stack before aggregating:\n$plan")
    // One logical table read: either a single cached-relation scan (whose
    // rendering embeds the original FileScan — not a second read) or,
    // uncached, a single FileScan.
    val imts = "InMemoryTableScan".r.findAllMatchIn(plan).size
    val fs = "FileScan parquet".r.findAllMatchIn(plan).size
    assert(imts == 1 || (imts == 0 && fs == 1),
      s"expected exactly one table read, got $imts cached + $fs file scans:\n$plan")
  }

  test("q89: skew probe is one keyed count + broadcast scalar + top-k — no sort of the key table") {
    val plan = SparkEntry.queries("q89_skew_probe")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-k must plan TakeOrderedAndProject, not a global sort:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"the totals attach must broadcast:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.size <= 2 && hx.forall(_.contains("user_id")),
      s"only the per-key count may shuffle, got $hx:\n$plan")
  }

  test("q93: substring spans shuffle hashed positions only — span aggregate reuses the window's doc_id exchange") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q93_exact_substr_spans")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"never all-pairs:\n$plan")
    // Two Window ops (island marker, island id) over ONE doc_id sort.
    assert("Window \\[".r.findAllIn(plan).size == 2,
      s"expected the two-projection island windows:\n$plan")
    val hx = hashExchanges(plan)
    // Keys are only the 56-bit gram hash and doc_id; in particular the
    // (doc_id, sid) span aggregate must ride the window's doc_id
    // exchange (subset clustering), never shuffle on sid.
    assert(hx.nonEmpty && hx.forall(k =>
      k.contains("h#") || k.contains("doc_id")),
      s"exchanges must carry hashed grams / doc ids only, got $hx:\n$plan")
    assert(!hx.exists(_.contains("sid")),
      s"span aggregate re-shuffled on sid instead of reusing the doc_id exchange: $hx\n$plan")
  }

  test("q94: cap-then-fill windows shuffle strata keys only; cutoff joins broadcast") {
    val plan = SparkEntry.queries("q94_source_capped_pack")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"cutoff joins must broadcast:\n$plan")
    // Both pack stages join their (tiny) histogram cutoffs by broadcast;
    // stage 1 appears twice because stage 2's histogram and survivors
    // each consume the capped frame.
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2,
      s"expected broadcast cutoff joins in both stages:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.nonEmpty && hx.forall(_.contains("lang")),
      s"every corpus exchange must be keyed on the stratum, got $hx:\n$plan")
  }

  test("q95: LM scoring joins the aggregated model — exchanges carry bigram/prefix hashes or doc_id only") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q95_bigram_lm_score")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"the corpus must never self-join raw:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.nonEmpty && hx.forall(k =>
      k.contains("h12") || k.contains("h1#") || k.contains("doc_id")),
      s"exchanges must carry 56-bit hashes / doc ids only, got $hx:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(toks") &&
      !hx.exists(_.contains("toks")),
      s"token arrays must never cross an exchange: $hx\n$plan")
  }

  for (q <- Seq("q96_substr_redact", "q97_substr_redact_keep_one"))
    test(s"$q: rewrite is window-free — covered positions join broadcast, exchanges keyed doc_id/hash") {
      Artifacts.clear(spark)
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"never all-pairs:\n$plan")
      // Unlike q93, the rewrite needs NO island merge: covered positions
      // come straight from duplicated starts, so no Window operator and
      // no per-doc sort may appear.
      assert(!plan.contains("Window ["),
        s"the rewrite must not plan a window:\n$plan")
      val hx = hashExchanges(plan)
      assert(hx.nonEmpty && hx.forall(k =>
        k.contains("doc_id") || k.contains("h#")),
        s"exchanges must carry doc ids / gram hashes only, got $hx:\n$plan")
    }

  test("q98: PQ ladder pushes WindowGroupLimit at every rank cut; exchanges keyed on ids/subspaces") {
    val plan = SparkEntry.queries("q98_embed_pq_adc")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no raw cartesian:\n$plan")
    // Three rank cuts — per-(vec,s) argmin code, ADC top-32 shortlist,
    // final top-3 — must all plan as WindowGroupLimit (partial top-k
    // before the exchange), never a full per-partition sort of the pool.
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 3,
      s"rank cuts must push WindowGroupLimit:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.nonEmpty && hx.forall(k =>
      k.contains("vec_id") || k.contains("q_id")),
      s"exchanges must be keyed on vec/query ids (+ subspace), got $hx:\n$plan")
  }

  test("q100: the only unpartitioned window runs over the bucket table — the corpus never single-tasks") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q100_token_blocks")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // Exactly one empty-partition-spec window (the bucket-offset scan);
    // the per-doc windows must all be partitioned by the bucket column.
    // First windowspecdefinition arg: a bare column = partition key; a
    // column with a sort direction = ORDER key, i.e. NO partition keys.
    val windows = "Window \\[[^\\n]*windowspecdefinition\\(([^,]*)"
      .r.findAllMatchIn(plan).map(_.group(1).trim).toSeq
    assert(windows.size == 2, s"expected bucket + in-bucket windows:\n$plan")
    assert(windows.count(w => w.startsWith("b#") && !w.contains("ASC")) == 1,
      s"per-doc window must partition by bucket, got $windows:\n$plan")
    assert(windows.count(_.contains("ASC")) == 1,
      s"exactly one unpartitioned (order-first) window allowed, got $windows:\n$plan")
    // The unpartitioned one consumes the bucket AGGREGATE (corpus/W
    // rows): its subtree must contain the btoks sum, not a corpus scan.
    assert(plan.contains("btoks"),
      s"bucket-sum aggregate missing below the global window:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.forall(k => k.contains("b#") || k.contains("b_")),
      s"corpus exchanges must be keyed on the bucket, got $hx:\n$plan")
  }

  test("q99: IVF-PQ keeps the ladder shape — probe bounds candidates before ADC, WindowGroupLimit cuts") {
    val plan = SparkEntry.queries("q99_embed_ivf_pq")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"no raw cartesian:\n$plan")
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 3,
      s"rank cuts must push WindowGroupLimit:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.nonEmpty && hx.forall(k =>
      k.contains("vec_id") || k.contains("q_id")),
      s"exchanges must be keyed on vec/query ids, got $hx:\n$plan")
  }

  test("q118: scoring stream joins aggregated models only — every exchange keyed on gram hashes or doc_id") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q118_trigram_lm_score")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"the corpus must never self-join:\n$plan")
    // The one BNLJ is the 1-row train-token-total broadcast attach (the
    // q84 bounded-narrow-expansion class) — anything more is a scan pair.
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size <= 1,
      s"only the 1-row N attach may nest-loop:\n$plan")
    val hx = hashExchanges(plan)
    // Gram-hash keys plan as h123/h12/h23/h2/h3 on the stream side and
    // as the pre-rename `h` on the unigram count table.
    assert(hx.forall(k => k.contains("h123") || k.contains("h12") ||
      k.contains("h23") || k.contains("h2") || k.contains("h3") ||
      k.contains("h#") || k.contains("doc_id")),
      s"exchanges must carry 56-bit gram hashes or doc_id, got $hx:\n$plan")
  }

  test("q120: importance selection cuts with TakeOrderedAndProject, never a global sort") {
    val plan = SparkEntry.queries("q120_importance_select")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-100 must be a partial top-k:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no cartesian:\n$plan")
  }

  test("q121: the sketch folds map-side — a partial graft_kmv_mins below the source exchange") {
    val plan = SparkEntry.queries("q121_kmv_distinct")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("partial_graft_kmv_mins".r.findAllIn(plan).nonEmpty,
      s"the KMV aggregate must plan a map-side partial (O(k) per task " +
        s"crossing the exchange):\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.forall(_.contains("source")),
      s"only source-keyed exchanges expected, got $hx:\n$plan")
  }

  test("q125: classifier SCORING is map-only — literal weight map, no join, no shuffle") {
    // Training collects its dims-bounded gradients per epoch (the
    // trainer-artifact class); the registered query's PLAN is the
    // serving pass and must be a pure projection over the cached
    // tokenized table — a join or hash exchange here would mean the
    // model stopped being a shipped literal.
    val plan = SparkEntry.queries("q125_quality_classifier")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"scoring must not join:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.isEmpty,
      s"map-only scoring must not hash-shuffle, got $hx:\n$plan")
  }

  test("q127: the greedy fold rides the DISTINCT-word arm; the corpus crosses a broadcast join") {
    // Round-15 dictionary rewrite (the q122 move): the interpreted fold
    // evaluates once per distinct word; the corpus-sized token stream
    // meets the vocab-sized piece dictionary at a BroadcastHashJoin and
    // shuffles only the word-distinct and doc_id aggregate keys.
    val plan = SparkEntry.queries("q127_wordpiece_encode")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the piece dictionary must attach as a broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"the corpus side must never shuffle-join:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.nonEmpty && hx.forall(x =>
      x.contains("doc_id") || x.contains("w#")),
      s"only the word-distinct and per-doc aggregate exchanges expected, got $hx:\n$plan")
  }

  test("q131: both retrieval arms cut map-side — two WindowGroupLimits, probe join broadcast") {
    val plan = SparkEntry.queries("q131_ann_recall_eval")(spark, sfDir)
      .queryExecution.executedPlan.toString
    // exact-arm rank <= 10 and approx-arm rank <= 10: each must plan as a
    // partial-then-final WindowGroupLimit pair, never a full q_id sort of
    // the unbounded candidate stream.
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 4,
      s"rank cuts must push WindowGroupLimit on both arms:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the probe-bucket join must broadcast the query side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"no corpus-sized shuffle join belongs in this plan:\n$plan")
  }

  test("q132: the per-cluster quota cut is a map-side WindowGroupLimit, assignment broadcast") {
    val plan = SparkEntry.queries("q132_cluster_sample")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"quota cut must push WindowGroupLimit (no task holds a whole cluster):\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"centroid scoring must broadcast the 16-row centroid table:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"no cartesian product belongs in this plan:\n$plan")
  }

  test("q133: overlap join is an equi-join on the shingle — no cartesian, no BNLJ") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q133_source_overlap")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"source-pair candidates must come from the shingle equi-join:\n$plan")
  }

  test("q134/q139: rank rounds join on keys — no cartesian; BNLJ only for 1-row scalars") {
    for (q <- Seq("q134_pagerank_suppliers", "q139_trustrank_suppliers")) {
      val plan = SparkEntry.queries(q)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$q: no cartesian product belongs in a rank round:\n$plan")
      // The N / dangling-mass scalars attach as 1-row broadcast
      // crossJoins (IdentityBroadcastMode BNLJ) — bounded by
      // construction; every EDGE-carrying join must be an equi-join.
      val bnlj = "BroadcastNestedLoopJoin BuildRight, Cross".r
        .findAllIn(plan).size
      val equi = ("BroadcastHashJoin".r.findAllIn(plan).size
        + "SortMergeJoin".r.findAllIn(plan).size
        + "ShuffledHashJoin".r.findAllIn(plan).size)
      assert(equi > 0,
        s"$q: the edge/contrib/degree joins must plan as equi-joins:\n$plan")
      // rounds materialize (localCheckpoint), so the registered plan is
      // ONE round's shape: its two 1-row scalar attaches at most
      assert(bnlj <= 2,
        s"$q: more nested-loop joins than one round's 1-row scalars:\n$plan")
    }
  }

  test("q134/q139: no rank round broadcasts the edge cut; edge joins build on ranks") {
    import org.apache.spark.sql.catalyst.optimizer.BuildRight
    import org.apache.spark.sql.execution.{RDDScanExec, SparkPlan, UnaryExecNode}
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    def isEdgeScan(p: SparkPlan): Boolean = p match {
      case s: RDDScanExec => s.output.map(_.name).toSet == Set("src", "dst")
      case _ => false
    }
    // Rows that come from the edge cut through row-wise operators only.
    def edgeRows(p: SparkPlan): Boolean = p match {
      case s if isEdgeScan(s) => true
      case _: BaseAggregateExec => false
      case u: UnaryExecNode => edgeRows(u.child)
      case _ => false
    }
    for (q <- Seq("q134_pagerank_suppliers", "q139_trustrank_suppliers")) {
      val nodes = PlanAudit.collectAll(PlanAudit.physical(
        SparkEntry.queries(q)(spark, sfDir)))
      val tree = nodes.head.treeString
      val broadcastEdges = nodes.collect {
        case b: BroadcastExchangeExec if edgeRows(b.child) => b
      }
      assert(broadcastEdges.isEmpty, s"$q broadcasts the edge list:\n$tree")
      val edgeJoins = nodes.collect {
        case j: ShuffledHashJoinExec if j.left.exists(isEdgeScan) => j
      }
      assert(edgeJoins.nonEmpty && edgeJoins.forall(_.buildSide == BuildRight),
        s"$q: the edge join must be a shuffled hash join built on the ranks:\n$tree")
    }
  }

  test("q136: the sketch is a partial-agg native aggregate, probes ride a broadcast") {
    Artifacts.clear(spark)
    val plan = SparkEntry.queries("q136_cms_freq")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("partial_graft_cms"),
      s"the CMS aggregate must map-side combine (partial_graft_cms):\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      s"the 1-row sketch must attach as a broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing corpus-sized may shuffle-join here:\n$plan")
  }

  test("q137: ONE entity-key exchange serves all three SCD2 windows") {
    val plan = SparkEntry.queries("q137_scd2_build")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val hx = hashExchanges(plan)
    assert(hx.size == 1 && hx.head.contains("user_id"),
      s"expected exactly one user_id hash exchange shared by lag/lead/" +
        s"row_number, got $hx:\n$plan")
  }

  test("q138: candidates come from the variant equi-join — no cartesian, no BNLJ") {
    val plan = SparkEntry.queries("q138_edit_distance_join")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"deletion-variant candidates must stay an equi-join:\n$plan")
  }

  test("q147: bitext candidates ride the bucket equi-join — never A×B") {
    val plan = SparkEntry.queries("q147_bitext_margin")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"banded mining must stay a bucket equi-join:\n$plan")
    assert(plan.contains("graft_lsh_bucket"),
      s"bucketing must be the codegen'd native expression:\n$plan")
  }

  test("q150: shard export is map-only up to the single shard exchange") {
    val plan = SparkEntry.queries("q150_shard_export")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"no join belongs in an export:\n$plan")
    val hx = hashExchanges(plan)
    assert(hx.size == 1 && hx.head.contains("shard"),
      s"expected exactly the shard-key exchange, got $hx:\n$plan")
    assert(plan.contains("partial_count") || plan.contains("partial"),
      s"the census must map-side combine:\n$plan")
  }
}
