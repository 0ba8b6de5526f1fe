package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.core._
import graft.Cut.cut
import graft.sources.Tables

/** Event-table queries: JSON extraction and the batch form of the streaming
  * windowed distinct counts (SURVEY §2.9). These batch forms double as the
  * ground truth the Structured Streaming replays are asserted against.
  */
object EventQueries {

  /** P9 JSON field extraction (StreamProcessor.java:70-183 does this with
    * Jackson by hand; Spark-native is get_json_object / from_json). */
  def q16JsonExtract(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    ev.withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("event_count"),
        round(avg(col("k")), 4).as("avg_k"),
        round(avg(col("value")), 4).as("avg_value"))
      .orderBy(asc("event_type"))
  }

  /** A14 windowed exact distinct count, batch form
    * (AirlineAircraftCountStream.java:34-52: per (airline, 1-min tumbling
    * window) HashSet of icao24 → size). Exact distinct for parity;
    * approx_count_distinct is the documented scale escape hatch. */
  def q17WindowedDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    ev.groupBy(window(col("ts"), "1 minute"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("distinct_users"))
      .filter(col("distinct_users") >= 2)
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("distinct_users"))
      .orderBy(asc("win_start"), asc("event_type"))
  }

  /** AS-OF JOIN (q58): for every click, the most recent view by the same
    * user at or before the click — attribution's last-touch primitive,
    * and the classic trade/quote as-of shape re-expressed Spark-first via
    * [[graft.ops.core.asofJoin]]'s union-and-sweep plan (one key-hash
    * shuffle + per-partition sort, no range-pair explosion; the scaladoc
    * there has the 100 TB cost argument). Views are deduplicated per
    * (user, ts) upstream (keep max event_id) so the as-of pick is total,
    * and the gap is exact integer microseconds — both mirrored in the
    * DuckDB oracle, which states the SAME semantics through its native
    * `ASOF LEFT JOIN` operator, so the two plans confirm each other from
    * independent implementations. */
  def q58AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = asofInputs(spark, dir)
    asofProject(asofJoin(clicks, views, Seq("user_id"), "ts", "view_ts"))
  }

  /** AS-OF JOIN, skew-salted (q64): the identical attribution question
    * answered through [[graft.ops.core.asofJoinSalted]] with daily time
    * buckets — each user's timeline splits across (user, day) window
    * partitions with the previous day's last view carried over, so one
    * hyperactive user no longer serializes a task. Registered against
    * the SAME DuckDB `ASOF LEFT JOIN` oracle as q58: the salted plan must
    * land on bit-identical output (its carries keep true timestamps, so
    * even the derived gap survives). */
  def q64AsofJoinSalted(spark: SparkSession, dir: String): DataFrame = {
    val (clicks, views) = asofInputs(spark, dir)
    asofProject(asofJoinSalted(clicks, views, Seq("user_id"), "ts", "view_ts",
      t => floor(unix_micros(t) / lit(86400000000L))))
  }

  private def asofInputs(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = Tables(spark, dir, "events")
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"), col("event_id"))
      .groupBy("user_id", "view_ts")
      .agg(max(col("event_id")).as("view_event_id"))
    (clicks, views)
  }

  private def asofProject(joined: DataFrame): DataFrame =
    joined.select(
      col("event_id"), col("user_id"), col("view_event_id"),
      (unix_micros(col("ts")) - unix_micros(col("view_ts"))).as("gap_us"))
      .orderBy(asc("event_id"))

  /** Batch sessionization (q61): gap-based sessions as window functions —
    * lag to flag gaps ≥ 6 h, a cumulative sum (explicit ROWS frame, both
    * engines) to number the islands, then one aggregate per (user,
    * session). The batch twin of q37's streaming `session_window`, with
    * the same session-start convention (new session at gap ≥ threshold)
    * and the same normalize guards, but reporting actual last-event time
    * (batch has no watermark, so no `+gap` close and no open-session
    * exclusion — the two queries answer different operational questions
    * and check each other's gap logic through their shared oracle shape).
    *
    * Scale shape: ONE hash exchange on user_id — the window's
    * partitioning also satisfies the downstream groupBy(user_id, sid)
    * clustering (a strict subset co-locates the superset), so Spark plans
    * no second exchange (PlanPinsSpec pins it). Per-key window state is
    * one lag value and one running sum — nothing material even on a
    * million-event user. */
  def q61BatchSessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
      .filter(col("event_type").isNotNull &&
        length(trim(col("event_type"))) > 0 &&
        col("ts").isNotNull && col("user_id").isNotNull)
    val byTime = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapUs = lit(6L * 3600L * 1000000L)
    val flagged = ev.withColumn("new_s",
      when(lag(col("ts"), 1).over(byTime).isNull ||
        unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byTime)) >= gapUs,
        1L).otherwise(0L))
    val numbered = flagged.withColumn("sid",
      sum(col("new_s")).over(
        byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    numbered.groupBy(col("user_id"), col("sid"))
      .agg(
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"),
        // Exact-integer mean, NO final round: double avg() is
        // accumulation-order sensitive (partial sums differ by ulps
        // between engines), and round(double, 4) itself disagrees across
        // engines at half-way boundaries (Spark rounds the shortest
        // decimal rendering, DuckDB the binary value) — integer-cent
        // quotients hit those boundaries constantly. Summing integer
        // cents is associative-exact and the single final division is
        // the same IEEE op in both engines, so the doubles are
        // bit-identical with nothing to repair.
        sum(round(col("value") * 100, 0).cast("long")).as("sum_cents"))
      .withColumn("avg_value",
        col("sum_cents").cast("double") / (col("n_events") * 100.0))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("avg_value"))
      .orderBy(asc("user_id"), asc("session_start"))
  }

  /** TEMPORAL INTERVAL JOIN (q82): which activity happened during an
    * incident? Error events each open a 5-minute incident window; the
    * windows are COALESCED (overlapping/touching windows merged into
    * disjoint spans — the gaps-and-islands cummax sweep, q61's idiom on
    * intervals instead of point gaps), and every non-error event is tested
    * for containment in a merged span. Output: per (event_type, day) the
    * event count, the count inside incident windows, and the share.
    *
    * This is the TIME analogue of J8's geo grid join, closing the same
    * trap: `ts BETWEEN s AND e` has no equi-key, so the naive plan is a
    * broadcast nested loop over every (event, window) pair. Instead both
    * sides are bucketed onto a fixed 5-minute grid — each merged window
    * explodes to the cells it overlaps, each event computes its single
    * cell — and the containment test becomes a cell EQUI-join refined by
    * the original range predicate (left_semi, so multi-cell windows can
    * never double-count an event). Correctness of the bucketing is the
    * floor-monotonicity argument: t in [s, e] implies
    * floor(t/300s) in [floor(s/300s), floor(e/300s)], so no true match
    * can land outside the joined cells.
    *
    * Scale shape: the window side is incidents — orders of magnitude
    * smaller than events — and coalescing shrinks it further, so the
    * grid-cell relation stays broadcastable long after the event side
    * stops fitting anywhere (and if it ever does outgrow broadcast, the
    * cell key makes the shuffle an equi-hash, never a nested loop). The
    * coalesce itself sorts ONLY the window side (one global window over
    * incidents; at extreme incident counts the documented refinement is
    * per-day partitioned coalescing with boundary-day stitching). The
    * oracle states containment as a correlated EXISTS over the merged
    * spans — the nested-loop semantics this plan refuses to execute —
    * so the equi-join rewrite is certified against the naive form. */
  def q82IntervalJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    val cellUs = 300000000L // 5-minute grid, micros
    val errWin = ev.filter(col("event_type") === "error")
      .select(col("ts").as("s"),
        timestamp_micros(unix_micros(col("ts")) + cellUs).as("e"))
    val pts = ev.filter(col("event_type") =!= "error")
      .select(col("event_type"), col("ts"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).cast("long")
          .as("epoch_day"))
    val inIncident =
      intervalContainedSemi(pts, mergeIntervals(errWin), cellUs)
    val inc = inIncident.groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("n_in_incident"))
    val tot = pts.groupBy(col("event_type"), col("epoch_day"))
      .agg(count(lit(1)).as("n_events"))
    tot.join(inc, Seq("event_type", "epoch_day"), "left")
      .withColumn("n_in_incident", coalesce(col("n_in_incident"), lit(0L)))
      .withColumn("incident_share",
        col("n_in_incident").cast("double") / col("n_events"))
      .select(col("event_type"), col("epoch_day"), col("n_events"),
        col("n_in_incident"), col("incident_share"))
      .orderBy(asc("event_type"), asc("epoch_day"))
  }

  /** Interval coalesce: (s, e) timestamp spans -> disjoint merged
    * (ws, we) spans; overlapping OR touching (s == previous max end)
    * spans merge. The gaps-and-islands cummax sweep over the INTERVAL
    * table only. */
  private[graft] def mergeIntervals(win: DataFrame): DataFrame = {
    val ord = Window.orderBy(col("s"), col("e"))
    val prevMax = max(col("e"))
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    win
      .withColumn("new_w",
        when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
      .withColumn("wid", sum(col("new_w"))
        .over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("wid"))
      .agg(min(col("s")).as("ws"), max(col("e")).as("we"))
  }

  /** Grid-bucketed containment semi join: rows of `pts` (with a `ts`
    * column) whose ts falls inside any [ws, we] span of `merged`. Spans
    * explode to the `cellUs` grid cells they overlap; the range test
    * refines a cell EQUI-join (left_semi, so multi-cell spans never
    * duplicate a row). Inclusive on both endpoints. */
  private[graft] def intervalContainedSemi(pts: DataFrame, merged: DataFrame,
      cellUs: Long): DataFrame = {
    val windowCells = merged.select(col("ws"), col("we"),
      explode(sequence(
        floor(unix_micros(col("ws")) / cellUs).cast("long"),
        floor(unix_micros(col("we")) / cellUs).cast("long"))).as("wcell"))
    val keyed = pts.withColumn("cell",
      floor(unix_micros(col("ts")) / cellUs).cast("long"))
    keyed.join(windowCells,
      keyed("cell") === windowCells("wcell") &&
        keyed("ts") >= windowCells("ws") && keyed("ts") <= windowCells("we"),
      "left_semi")
      .drop("cell")
  }

  /** FUNNEL ANALYSIS (q83): per-user stage progression through the
    * strictly-ordered chain view -> click -> purchase — the product
    * analytics primitive (and, in a training-data pipeline, the
    * label-generation shape for session-outcome modeling). Semantics are
    * timestamp-strict: the qualifying click is the earliest click AFTER
    * the first view (ts strictly greater), the qualifying purchase the
    * earliest purchase after that click — chained strict inequalities, no
    * tie ambiguity.
    *
    * Scale shape: ONE user_id hash exchange for everything. Both stage
    * flags come from windows over the same (user, RANGE by event-time)
    * spec — `prior_view`/`prior_qclick` are running mins over the frame
    * ending 1 microsecond before the current row (RANGE, not ROWS: a
    * ROWS -1 frame under timestamp ties would be peer-order
    * nondeterministic; the RANGE frame is a pure function of event time) —
    * and the final groupBy(user_id) reuses the window's partitioning
    * (q61's subset-clustering argument, pinned for that query in
    * PlanPinsSpec). The oracle restates the chain as THREE join-aggregate
    * stages (min view per user, min later click, min later purchase) — a
    * structurally different plan that must land on the same hash. */
  def q83Funnel(spark: SparkSession, dir: String): DataFrame =
    funnelStages(Tables(spark, dir, "events"))
      .orderBy(asc("user_id"))

  /** The reusable operator behind q83: any (user_id, event_type, ts)
    * frame -> per-user funnel stages under the strict
    * view -> click -> purchase chain. */
  private[graft] def funnelStages(events: DataFrame): DataFrame = {
    val ev = events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .select(col("user_id"), col("event_type"), col("ts"),
        unix_micros(col("ts")).as("ts_us"))
    val before = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val withView = ev.withColumn("prior_view",
      min(when(col("event_type") === "view", col("ts_us"))).over(before))
    val withClick = withView.withColumn("prior_qclick",
      min(when(col("event_type") === "click" && col("prior_view").isNotNull,
        col("ts_us"))).over(before))
    withClick.groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "click" && col("prior_view").isNotNull,
          col("ts"))).as("t_click"),
        min(when(col("event_type") === "purchase" &&
          col("prior_qclick").isNotNull, col("ts"))).as("t_purchase"))
      .select(
        col("user_id"),
        when(col("t_purchase").isNotNull, 3L)
          .when(col("t_click").isNotNull, 2L)
          .when(col("t_view").isNotNull, 1L).otherwise(0L).as("stage"),
        date_format(col("t_view"), "yyyy-MM-dd HH:mm:ss").as("first_view"),
        date_format(col("t_click"), "yyyy-MM-dd HH:mm:ss").as("first_click"),
        date_format(col("t_purchase"), "yyyy-MM-dd HH:mm:ss")
          .as("first_purchase"))
  }

  /** A14/A15 at scale: same window keyed by the J8 geo match, with
    * approx_count_distinct — demonstrates the documented approximate path
    * (exact HashSet state does not bound memory per key at 100 TB).
    * No oracle (HLL is engine-specific) → driver rows-only check.
    *
    * Precision: the default rsd (0.05) on purpose. This query IS the scale
    * escape hatch, so its cost story must be good: HLL sketch width grows
    * ~1/rsd², and rsd=0.01 made each (key, window) sketch 25× wider for a
    * 4× slower aggregate (8.9 s vs ~2 s at sf0.1) — a ±5% count on a
    * monitoring-style distinct is the right trade. Callers needing tighter
    * error pay for it explicitly via the rsd argument. The error is
    * MEASURED against the exact path and pinned (ApproxDistinctSpec):
    * mean 2.5% over 3392 groups at sf0.1, worst 2.0% where counts ≥ 50 —
    * within the documented rsd. */
  def q18WindowedApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables(spark, dir, "events")
    ev.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("approx_users"))
      .orderBy(asc("win_start"), asc("event_type"))
  }

  /** q89 — SKEW PROBE / SALT PLANNER: the diagnostic that decides whether
    * a key needs the q64 salted-join treatment BEFORE the join runs. Per
    * join key (here events.user_id) it reports the row count, the skew
    * ratio versus a perfectly uniform spread (cnt·n_keys / total_rows),
    * and the salt fan-out that would level it — the exact factor
    * `asofJoinSalted`-style plans take as input. Top 20 heaviest keys,
    * count ties broken by key so the cut is a total order.
    *
    * All-integer arithmetic end to end: the ratio is rounded only for
    * display, and the salt factor is a ceiling DIVISION on longs
    * ((cnt·k + total − 1) div total), never a float ceil — so the plan a
    * cluster derives from this table is reproducible in any engine.
    *
    * Scale shape: one map-side-combined count per key (the probe costs
    * one aggregation of the join input — the thing you were about to
    * shuffle anyway), a two-long scalar attached broadcast, and a
    * TakeOrderedAndProject top-k; the full per-key table never sorts. */
  def q89SkewProbe(spark: SparkSession, dir: String): DataFrame =
    skewProbe(Tables(spark, dir, "events"), "user_id", 20)

  /** The reusable operator behind q89: probe any frame's join key. Top
    * `topK` heaviest keys with their row count, skew ratio vs a uniform
    * spread, and the integer salt fan-out that would level them. */
  def skewProbe(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    val counts = df
      .groupBy(keyCol).agg(count(lit(1)).as("cnt"))
    val totals = counts.agg(
      sum(col("cnt")).as("total_rows"), count(lit(1)).as("n_keys"))
    counts.crossJoin(broadcast(totals))
      .select(col(keyCol), col("cnt"),
        round(col("cnt").cast("double") * col("n_keys") / col("total_rows"), 4)
          .as("skew_ratio"),
        expr("(cnt * n_keys + total_rows - 1) div total_rows").as("salt_factor"))
      .orderBy(desc("cnt"), asc(keyCol))
      .limit(topK)
  }

  /** SCD TYPE-2 DIMENSION BUILD (q137): the standard warehouse
    * versioning op — collapse an entity's event log into validity
    * intervals where only CHANGES mint a new version: per user, drop
    * rows whose state equals the previous state, then valid_from = the
    * change's timestamp, valid_to = the NEXT change's timestamp (NULL =
    * current), version = change ordinal. The output is the
    * slowly-changing dimension a point-in-time join (q58's as-of sweep)
    * runs against; q61 sessionize is the gap-based sibling, this is the
    * change-based one.
    *
    * Plan shape: ONE user_id hash exchange serves all three window
    * functions (lag for change detection, lead/row_number over the
    * filtered change set — same partitioning, same (ts, event_id)
    * ordering, so Catalyst reuses the sort). At 100 TB: one shuffle by
    * entity key, window state = one row lookback; hot entities are the
    * q89-probe / q64-salting case. Total (ts, event_id) ordering makes
    * the build deterministic under duplicate timestamps. */
  def q137Scd2Build(spark: SparkSession, dir: String): DataFrame =
    scd2(Tables(spark, dir, "events"),
      key = "user_id", state = "event_type")
      // microsecond-precision strings: the repo's oracle-surface
      // convention for timestamps (raw timestamp columns are
      // resolution-ambiguous across engines)
      .select(col("user_id"), col("state"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("valid_to"),
        col("version"), col("is_current"))
      .orderBy("user_id", "version")

  /** The reusable operator: (key, ts, event_id, state…) event frame →
    * one row per state CHANGE with [valid_from, valid_to) validity,
    * version ordinal, and the is_current flag. Open intervals close at
    * the 2200-01-01 high watermark (the standard SCD2 convention —
    * BETWEEN probes need no NULL branch, and no sink/oracle ever
    * handles a NULL timestamp). */
  def scd2(events: DataFrame, key: String, state: String): DataFrame = {
    val wOrd = Window.partitionBy(key).orderBy(col("ts"), col("event_id"))
    val hwm = to_timestamp(lit("2200-01-01 00:00:00"))
    events
      .select(col(key), col("ts"), col("event_id"), col(state).as("state"))
      .withColumn("prev", lag(col("state"), 1).over(wOrd))
      .filter(col("prev").isNull || col("prev") =!= col("state"))
      .withColumn("valid_to", coalesce(lead(col("ts"), 1).over(wOrd), hwm))
      .withColumn("version", row_number().over(wOrd).cast("long"))
      .select(col(key), col("state"), col("ts").as("valid_from"),
        col("valid_to"), col("version"),
        (col("valid_to") === hwm).as("is_current"))
  }

  /** INCREMENTAL SCD2 MAINTENANCE (q145): fold an ARRIVAL BATCH into a
    * STANDING dimension without rescanning history — the write-path
    * companion to q137's from-scratch build, and the warehouse member
    * of the q74/q91/q106 incremental family. Production dimensions are
    * maintained this way: each load closes the open intervals the
    * batch's entities touch and appends their new versions; entities
    * the batch never mentions are not read, let alone recomputed.
    *
    * PROVABLY equal to the full rebuild (Scd2IncrementalSpec asserts
    * frame equality; the registered oracle IS q137's rebuild SQL — the
    * q106 trick): with every batch event at or after the cutoff, the
    * rebuild's pre-cutoff change chain is untouched by batch rows, the
    * first batch change's `prev` equals the open version's state (all
    * events since the last change share its state, by definition of
    * change), versions continue from the open version's ordinal, and
    * the open interval closes exactly at the first batch change.
    *
    * Scale shape: ONE pass over the standing dimension (split by the
    * batch's touched-key set — a semi/anti join pair on the entity
    * key), batch-sized windows for the new chain (partitioned by
    * entity, never global), and a batch-keyed aggregate for the close
    * timestamps. Work beyond the standing-dim scan is proportional to
    * the BATCH — SCALE.md measures the invariance as the standing side
    * amplifies. */
  def q145Scd2Incremental(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables(spark, dir, "events")
    val cutoff = to_timestamp(lit("2024-01-22 00:00:00"))
    scd2Incremental(
      scd2(events.filter(col("ts") < cutoff), "user_id", "event_type"),
      events.filter(col("ts") >= cutoff), key = "user_id",
      state = "event_type")
      .select(col("user_id"), col("state"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("valid_to"),
        col("version"), col("is_current"))
      .orderBy("user_id", "version")
  }

  /** The reusable fold behind q145: (standing [[scd2]] dimension,
    * arrival-batch event frame) → the maintained dimension. Requires
    * every batch event's ts at or after every standing event's ts for
    * its key (the load-boundary contract every incremental dimension
    * load has); under it the result provably equals
    * `scd2(history ∪ batch)`. The contract is ENFORCED, not assumed:
    * a batch change timestamped before the open version's valid_from
    * raises (assert_true in the open-version close — see the guard
    * below) rather than silently minting overlapping intervals. */
  def scd2Incremental(standing: DataFrame, batch: DataFrame,
                      key: String, state: String): DataFrame = {
    val hwm = to_timestamp(lit("2200-01-01 00:00:00"))
    // The standing dimension is read by THREE split arms (untouched
    // anti, closed-versions semi, open-versions semi) and the touched
    // set / batch change chain by two consumers each — uncut, every
    // reference re-derived its subtree (for q145 the standing side is a
    // full history window pass, re-run 3×; in production it is a stored
    // table, which is exactly what the cut mirrors). Lazy lineage cuts
    // evaluate each once (r20, guide §1.2).
    val standingC = cut("scd2Incremental.standingC", standing)
    val touched = cut("scd2Incremental.touched",
      batch.select(col(key)).distinct())
    val open = cut("scd2Incremental.open",
      standingC.filter(col("is_current")).join(touched, Seq(key)))
    val wOrd = Window.partitionBy(key).orderBy(col("ts"), col("event_id"))
    // batch change chain: the first row's `prev` is the open version's
    // state (null for a brand-new entity — then the first row is a
    // change by the same rule scd2 applies to a first-ever event)
    // cut: feeds newRows AND the close-ts aggregate
    val changes = cut("scd2Incremental.changes", batch
      .select(col(key), col("ts"), col("event_id"), col(state).as("state"))
      .withColumn("lagst", lag(col("state"), 1).over(wOrd))
      .join(open.select(col(key), col("state").as("open_state"),
        col("version").as("open_version")), Seq(key), "left")
      .withColumn("prev", coalesce(col("lagst"), col("open_state")))
      .filter(col("prev").isNull || col("prev") =!= col("state")))
    val newRows = changes
      .withColumn("valid_to", coalesce(lead(col("ts"), 1).over(wOrd), hwm))
      .withColumn("version",
        coalesce(col("open_version"), lit(0L)) +
          row_number().over(wOrd).cast("long"))
      .select(col(key), col("state"), col("ts").as("valid_from"),
        col("valid_to"), col("version"), (col("valid_to") === hwm)
          .as("is_current"))
    val firstNew = changes.groupBy(key)
      .agg(min(col("ts")).as("close_ts"))
    // Load-boundary guard: the fold is only rebuild-equal when every
    // batch event is at or after the standing events for its key. A
    // violation surfaces here as close_ts < the open version's
    // valid_from — fail loudly instead of minting an overlapping
    // interval. assert_true returns NULL on pass, so coalescing it in
    // front of the real valid_to keeps the check inside the plan
    // (column pruning can't drop it) at open-version cost only.
    val openAdj = open.join(firstNew, Seq(key), "left")
      .select(col(key), col("state"), col("valid_from"),
        coalesce(
          assert_true(col("close_ts").isNull ||
              col("close_ts") >= col("valid_from"),
            concat(lit("scd2Incremental: load-boundary contract violated" +
              " — batch ts precedes the open version's valid_from for key="),
              col(key).cast("string"))).cast("timestamp"),
          col("close_ts"), col("valid_to")).as("valid_to"),
        col("version"),
        (col("close_ts").isNull && col("is_current")).as("is_current"))
    standingC.join(touched, Seq(key), "left_anti")
      .unionByName(standingC.filter(!col("is_current"))
        .join(touched, Seq(key)).select(standingC.columns.map(col): _*))
      .unionByName(openAdj)
      .unionByName(newRows)
  }

  /** RETENTION COHORT TRIANGLE (q151): the product-analytics staple —
    * users cohorted by FIRST-ACTIVITY week, each later week's active
    * share of the cohort as integer ppm (the matrix every growth
    * dashboard renders as the retention triangle; q83's funnel is the
    * within-session ordering question, this is the across-weeks
    * comeback question). ISO weeks via date_trunc('week') — Monday
    * boundaries in both engines, formatted to date strings per the
    * repo's no-raw-timestamp oracle convention.
    *
    * Scale shape: the corpus-sized event log collapses FIRST to
    * distinct (user, week) — a map-side-combinable reduce that bounds
    * everything after it by users × weeks; cohorts are a user-keyed
    * min; the triangle itself is a (cohort, week) count over rows that
    * are already one-per-(user, week), so no countDistinct shuffle is
    * ever needed. At 100 TB the only corpus-sized exchange is the
    * first distinct. */
  def q151RetentionCohorts(spark: SparkSession, dir: String): DataFrame =
    retentionCohorts(Tables(spark, dir, "events"))

  /** The reusable triangle behind q151 over any (user_id, ts) frame;
    * public so RetentionCohortSpec can plant comeback patterns. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    // weeks feeds the cohort derivation AND the activity join, cohorts
    // feeds the size table AND the join — uncut, the corpus-sized
    // (user, week) distinct re-ran per reference (r20, guide §1.2).
    val weeks = cut("retentionCohorts.weeks", events
      .select(col("user_id"), date_trunc("week", col("ts")).as("week"))
      .distinct())
    val cohorts = cut("retentionCohorts.cohorts",
      weeks.groupBy("user_id").agg(min("week").as("cohort")))
    val sizes = cohorts.groupBy("cohort")
      .agg(count(lit(1)).as("cohort_users"))
    weeks.join(cohorts, "user_id")
      .groupBy("cohort", "week")
      .agg(count(lit(1)).as("active_users"))
      .join(sizes, "cohort")
      .select(
        date_format(col("cohort"), "yyyy-MM-dd").as("cohort_week"),
        date_format(col("week"), "yyyy-MM-dd").as("activity_week"),
        col("active_users"), col("cohort_users"),
        expr("active_users * 1000000 div cohort_users").as("retention_ppm"))
      .orderBy("cohort_week", "activity_week")
  }
}
