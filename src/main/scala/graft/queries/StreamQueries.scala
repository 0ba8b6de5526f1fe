package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.streaming.EventStreams

/** Driver-verifiable Structured Streaming queries: each replays the events
  * table as a file stream (Trigger.AvailableNow), runs a topology from
  * graft.streaming.EventStreams, and returns the materialized sink.
  *
  * Determinism (why a DuckDB oracle can check a stream): the replay is one
  * micro-batch, the 0-second watermark ends at max(ts), and append mode
  * emits exactly the windows whose end ≤ final watermark — so the result
  * equals the batch aggregate restricted to closed windows, independent of
  * arrival order. The late-drop / multi-batch semantics are asserted
  * separately in StreamingReplaySpec with a MemoryStream.
  */
object StreamQueries {

  /** S5+P8+A14+K5: replayed 1-minute tumbling exact-distinct per event
    * type with no-grace watermark and final-only (append) emission —
    * the AirlineAircraftCountStream topology. */
  def q32StreamWindowedDistinct(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val events = EventStreams.fileReplaySource(ss, dir)
    // The registered topology carries the lateness observer: every
    // micro-batch progress reports rows_in/min_ts/max_ts next to the
    // state operator's numRowsDroppedByWatermark (StreamingLatenessSpec).
    val counts = EventStreams.windowedDistinct(
      EventStreams.observedLateness(events), col("event_type"), "event_type")
    EventStreams.runToMemory(spark, counts)
      .orderBy("win_start", "event_type")
  }

  /** S6+J6+J7+P9: stream enriched against two batch-computed static
    * lookups (the GlobalKTable parity: batch layer computes the snapshot,
    * the stream treats it as broadcast state), then windowed counts per
    * registry name. */
  def q33StreamEnrichJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val events = EventStreams.fileReplaySource(ss, dir)
    val registry = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("reg_key"), col("n_name").as("reg_name"))
    val typeInfo = Tables(spark, dir, "events")
      .groupBy("event_type").agg(count(lit(1)).as("type_count"))
    val enriched = EventStreams.enrich(events, registry, typeInfo)
    val counts = enriched
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 minute"), col("reg_name"))
      .agg(count(lit(1)).as("event_count"), sum(col("k")).as("sum_k"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("reg_name"), col("event_count"), col("sum_k"))
    EventStreams.runToMemory(spark, counts)
      .orderBy("win_start", "reg_name")
  }

  /** S7+J8+A15: streamed geo-windowed distinct aircraft per airport —
    * the AirportAircraftCountStream topology, with the grid-bucketed
    * equi-join instead of the reference's per-event airport-store scan. */
  def q34StreamGeoWindow(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val events = EventStreams.fileReplaySource(ss, dir)
    val airports = Tables(spark, dir, "nation")
      .withColumn("ap_lat", (col("n_nationkey") * 7 % 120 - 60).cast("double"))
      .withColumn("ap_lon", (col("n_nationkey") * 13 % 360 - 180).cast("double"))
      .select("n_name", "ap_lat", "ap_lon")
    val counts = EventStreams.geoWindowedDistinct(events, airports, radiusKm = 800.0)
    EventStreams.runToMemory(spark, counts)
      .orderBy("win_start", "airport")
  }

  /** EXACTLY-ONCE INGEST, oracle-checked (q86): an at-least-once delivery
    * (every event with event_id % 7 == 0 is replayed TWICE — the Kafka
    * producer-retry shape) runs through
    * [[EventStreams.dedupedWithinWatermark]] and then a 10-minute
    * windowed count per event type — TWO chained stateful operators
    * (dedup state + window state) in one append-mode query, the
    * watermark propagating through both. The oracle counts the ORIGINAL
    * events over closed windows: a hash match certifies the dedup
    * removed every injected re-delivery and nothing else — promoting the
    * guarantee StreamingReplaySpec asserts across micro-batches to a
    * value-checked driver-contract query. The watermark delay is the
    * re-delivery horizon knob: state per id lives delay-past-watermark
    * (bounded), re-deliveries inside the horizon are dropped — at 100 TB
    * the delay is sized to the producer's retry window, not the stream
    * length. Here it is ONE HOUR, not zero: a 0-second delay only
    * dedups re-deliveries landing in the original's micro-batch (true
    * for a single-file replay, not for a multi-file fixture or a skewed
    * source), so the delay is sized to a realistic retry horizon — any
    * re-delivery within an hour of watermark progress is deduped from
    * state, and one behind the watermark is late-dropped, so no layout
    * of micro-batches can double-count. The oracle closes windows at
    * `end <= max(ts) - delay` (the watermark the delay implies). */
  def q86StreamDedupIngest(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val events = EventStreams.fileReplaySource(ss, dir)
    val atLeastOnce = events.unionByName(
      events.filter(col("event_id") % 7 === 0))
    val deduped =
      EventStreams.dedupedWithinWatermark(atLeastOnce, "event_id", "1 hour")
    val counts = deduped
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n_events"))
    EventStreams.runToMemory(spark, counts)
      .orderBy("win_start", "event_type")
  }

  /** Sliding 2-minute / 1-minute windowed counts (parity-plus: the
    * reference's stream layer is tumbling-only). Each event lands in
    * exactly two overlapping windows; append emits a window once the
    * final watermark (max ts) passes its END, so the oracle restates
    * membership as the two per-event window starts and keeps those with
    * start + 2 min ≤ max ts. */
  def q71StreamSlidingWindow(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val events = EventStreams.fileReplaySource(ss, dir)
    EventStreams.runToMemory(spark, EventStreams.slidingCounts(events))
      .orderBy("win_start", "event_type")
  }

  /** Session windows (parity-plus beyond the reference's tumbling-only
    * windows): per-user activity sessions with a 6-hour inactivity gap,
    * merged dynamically as events arrive — the Structured Streaming
    * `session_window` state machine. Append emits a session once the
    * watermark passes its end (last event + gap), so the replay result is
    * the batch islands-and-gaps answer restricted to closed sessions. */
  def q37StreamSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val events = EventStreams.fileReplaySource(ss, dir)
    val sessions = events
      .withWatermark("ts", "0 seconds")
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("user_id"), col("n_events"))
    EventStreams.runToMemory(spark, sessions)
      .orderBy("user_id", "session_start")
  }

  /** Stream–STREAM join (parity-plus: the reference's topology only ever
    * joins a stream against static/GlobalKTable state — SURVEY §2.4; Spark
    * joins two live streams): correlate each view with the same user's
    * purchases in the following 2 hours. Both sides carry event-time
    * watermarks and the join condition carries the time range, which is
    * what lets Spark EVICT buffered rows once the watermark passes their
    * reachable window — the state-boundedness requirement at 100 TB (an
    * unconstrained stream-stream join buffers both streams forever).
    * Inner-join emission does not wait for the watermark, so the replay
    * equals the batch join — oracle-checkable. Cross-batch buffering is
    * spec-asserted in StreamingReplaySpec. */
  def q45StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val views = EventStreams.fileReplaySource(ss, dir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "0 seconds")
    val purchases = EventStreams.fileReplaySource(ss, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "0 seconds")
    val joined = views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 2 HOURS"))
      .select(col("view_id"), col("purchase_id"), col("user_id"))
    EventStreams.runToMemory(spark, joined)
      .orderBy("view_id", "purchase_id")
  }

  /** LEFT-OUTER stream–stream join — the state machine beyond q45's inner
    * form. Inner matches emit immediately, but a view with NO purchase in
    * its 2-hour window emits null-padded only when the watermark passes
    * view_ts + 2h and the buffered row is EVICTED (emit-on-eviction;
    * asserted batch-by-batch in StreamingReplaySpec). Only views whose
    * match window is safely closed under the final watermark
    * W = min(max view_ts, max purchase_ts) therefore have a deterministic
    * row set, so the result is restricted to view_ts + 121 min < W — the
    * same closed-window restriction every windowed replay here uses (the
    * 1-minute margin keeps the compare clear of the eviction boundary's
    * ±1ms semantics). W comes from the batch table under the identical
    * normalize filters, as a 1-row aggregate cross-joined in (never
    * collected). Unmatched views carry purchase_id = -1 (not NULL): the
    * driver hash-compare and Spark/DuckDB sort NULLs differently, and the
    * q39 rollup precedent is to keep compared columns non-null. */
  def q48StreamStreamLeftOuter(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val views = EventStreams.fileReplaySource(ss, dir)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "0 seconds")
    val purchases = EventStreams.fileReplaySource(ss, dir)
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user_id"),
        col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "0 seconds")
    val joined = views.join(purchases,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("view_ts") &&
        col("purchase_ts") <= col("view_ts") + expr("INTERVAL 2 HOURS"),
      "left_outer")
      .select(col("view_id"), col("purchase_id"), col("user_id"), col("view_ts"))
    val sink = EventStreams.runToMemory(spark, joined)
    val wm = EventStreams.normalize(Tables(spark, dir, "events"))
      .agg(least(
        max(when(col("event_type") === "view", col("ts"))),
        max(when(col("event_type") === "purchase", col("ts")))).as("w"))
    sink.crossJoin(wm)
      .filter(col("view_ts") + expr("INTERVAL 121 MINUTES") < col("w"))
      .select(col("view_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"), col("user_id"))
      .orderBy("view_id", "purchase_id")
  }

  /** K6: upsert sink — last closed window wins per key (Mongo ReplaceOne
    * parity). The result is the final store snapshot: one row per event
    * type carrying its most recent closed window. */
  def q35StreamUpsert(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val events = EventStreams.fileReplaySource(ss, dir)
    val counts = EventStreams.windowedDistinct(events, col("event_type"), "event_type")
    EventStreams.runUpsertLastWindowWins(ss, counts, "event_type",
        "target/upsert-store/q35")
      .orderBy("event_type")
  }

  /** STREAMING QUALITY-GATED INGEST (q124): the q103 filter cascade run
    * AT THE FRONT DOOR — documents replayed as a file stream, every rule
    * evaluated map-only in the micro-batch, and a running (source,
    * verdict) census maintained as a streaming aggregate in COMPLETE
    * mode. This is the continuous-crawl ingest shape: snapshots land as
    * files, the gate stamps each doc's first-fail verdict in-stream, and
    * the monitor state the aggregate carries is bounded by sources ×
    * rules — a few dozen rows whatever the corpus, which is the whole
    * point of gating at ingest rather than re-censusing the corpus.
    *
    * Rule metrics recompute the token split per reference (no cache
    * exists in a stream and projection collapse would re-inline one
    * anyway) — a constant per-row factor on a map-only path, the
    * documented trade. The verdict logic is byte-identical to q103's
    * chained first-fail `when`, so the oracle is the same batch
    * restatement grouped by (source, verdict) — the replay is one
    * micro-batch and complete mode emits the final census, arrival
    * order free. */
  def q124StreamQualityGate(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ss = EventStreams.streamSession(spark)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = ss.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val t = split(lower(trim(col("text"))), "\\s+")
    val base = docs.select(col("doc_id"), col("source"),
      size(t).cast("long").as("n_tokens"),
      (size(filter(t, x => x === "the" || x === "a")).cast("double") /
        size(t)).as("stop_ratio"),
      (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
    val scored = base.withColumn("quality", round(
      lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
        lit(0.3) * least(col("n_tokens").cast("double") / 100.0, lit(1.0)),
      6))
    val verdict = when(col("n_tokens") < 16, lit("too_short"))
      .when(col("stop_ratio") < 0.015, lit("low_stopword"))
      .when(col("ttr") < 0.32, lit("high_repetition"))
      .when(col("quality") < 0.62, lit("low_quality"))
      .otherwise(lit("kept"))
    val census = scored.withColumn("verdict", verdict)
      .groupBy("source", "verdict")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"))
    EventStreams.runToMemory(spark, census, mode = "complete")
      .orderBy("source", "verdict")
  }

  /** STREAMING MODEL-SCORED INGEST (q130): the q125 trained classifier
    * deployed AT THE FRONT DOOR — the production shape of every
    * model-based quality filter (CCNet's fastText, DCLM's logistic
    * models): TRAIN OFFLINE on the curated batch corpus, SHIP the weight
    * table to the ingest gate, score every arriving document map-only.
    * Here the offline half is literally q125's memoized trainer (one
    * training per session even when both queries run), and the shipped
    * model is a ≤ 257-long literal map — no join, no state, no model
    * server in the hot path.
    *
    * The stream side replays documents as files, tokenizes inline (no
    * cache exists in a stream), folds the score as exact BIGINT under
    * the literal weights, and maintains a (source, pred) census as a
    * COMPLETE-mode aggregate — monitor state bounded by sources × 2
    * whatever the corpus. All-integer scoring means the stream census is
    * bit-identical to the batch restatement under any micro-batch split
    * (PerceptronSpec pins stream ≡ batch), so the oracle is the q125
    * weight-CTE chain grouped by (source, pred). */
  def q130StreamModelScore(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val w = DocQueries.q125Model(spark, dir) // offline training, batch side
    val ss = EventStreams.streamSession(spark)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = ss.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val t = split(lower(trim(col("text"))), "\\s+")
    val scored = docs.select(col("doc_id"), col("source"),
      when(col("lang") === "en", 1L).otherwise(-1L).as("y"),
      DocQueries.perceptronScoreOn(w, 256, t).as("score"))
    val census = scored
      .withColumn("pred", when(col("score") > 0, 1L).otherwise(-1L))
      .groupBy("source", "pred")
      .agg(count(lit(1)).as("n_docs"),
        sum("score").as("score_sum"),
        sum(when(col("pred") === col("y"), 1L).otherwise(0L)).as("n_correct"))
    EventStreams.runToMemory(spark, census, mode = "complete")
      .orderBy("source", "pred")
  }

  /** STREAM-STATIC POINT-IN-TIME ENRICHMENT (q142): arriving events
    * join the BATCH-BUILT SCD2 dimension (q137's build) on entity key +
    * validity-interval containment — "which version of this entity was
    * current when the event happened", the dimension-as-of enrichment
    * every event pipeline runs at the front door. The production shape:
    * the dimension is rebuilt offline (q137), shipped as a broadcast
    * static relation; the stream-static interval join is STATELESS per
    * row (no watermark state — the q33 GlobalKTable posture with a
    * range predicate riding the same join), and the monitor census is a
    * COMPLETE-mode aggregate bounded by #states × #event_types.
    *
    * Exactly one version matches each event: q137's intervals TILE each
    * entity's timeline half-open ([from, to), Scd2Spec), and the first
    * interval starts at the entity's first event. Stateless join +
    * commutative counts ⇒ micro-batch-split invariant, so the oracle is
    * the batch restatement (q137's chain + the same containment join). */
  def q142StreamScd2Enrich(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val events = EventStreams.fileReplaySource(ss, dir)
    // The dimension tracks TIER CHANGES only (signup/purchase events) —
    // a different attribute than the stream payload, so the enrichment
    // answers "what tier was the user in when this event happened";
    // events before a user's first tier change enrich as 'none' (the
    // left-outer arm — stream-static outer joins are stateless too).
    val dim = EventQueries.scd2(
      Tables(spark, dir, "events")
        .filter(col("event_type").isin("signup", "purchase")),
      "user_id", "event_type")
      .select(col("user_id").as("d_user"), col("state").as("tier"),
        col("valid_from"), col("valid_to"))
    val joined = events.join(broadcast(dim),
      col("user_id") === col("d_user") &&
        col("ts") >= col("valid_from") && col("ts") < col("valid_to"),
      "left")
    val census = joined
      .select(coalesce(col("tier"), lit("none")).as("tier"),
        col("event_type"))
      .groupBy("tier", "event_type")
      .agg(count(lit(1)).as("n_events"))
    EventStreams.runToMemory(spark, census, mode = "complete")
      .orderBy("tier", "event_type")
  }

  /** STREAMING SHARD ROUTER (q154): q150's seeded shard export run at
    * the INGEST door — documents arriving as a stream route to their
    * training shard by the identical seeded md5 and the census
    * accumulates in COMPLETE mode (64 groups — state bounded by the
    * shard count whatever the corpus). The production shape: a crawl
    * ingests continuously, but shard assignment must be decided at
    * arrival (the file lands in its shard once) and must equal what a
    * batch re-export would decide — otherwise resume/backfill rewrites
    * shards. That equality is the registered oracle: q150's batch SQL
    * VERBATIM (the q145/q106 registered-equality trick) — legitimate
    * because assignment is stateless per row and every census aggregate
    * (count, sum, hash-ordered min/max) is commutative-associative, so
    * the result is micro-batch-split invariant. */
  def q154StreamShardRoute(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ss = EventStreams.streamSession(spark)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = ss.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val h = conv(substring(md5(concat(lit("seed42:"),
      col("doc_id").cast("string"))), 1, 14), 16, 10).cast("long")
    val census = docs
      .select(col("doc_id"), col("n_chars"), (h % 64).as("shard"), h.as("hv"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
        min(struct(col("hv"), col("doc_id"))).getField("doc_id")
          .as("first_doc"),
        max(struct(col("hv"), col("doc_id"))).getField("doc_id")
          .as("last_doc"))
    EventStreams.runToMemory(spark, census, mode = "complete")
      .orderBy("shard")
  }

  /** STREAMING QUANTILE MONITOR (q168): per-source n_chars quartiles
    * maintained AT THE INGEST DOOR by the q164 bottom-k sketch running
    * as streaming aggregation state — the length-distribution monitor a
    * continuous crawl shows next to q124's quality gate. The point is
    * the STATE BOUND: exact streaming percentiles would buffer every
    * value ever seen (unbounded state — the thing Structured Streaming
    * exists to forbid); the sketch keeps ≤ k (hash, value) pairs per
    * source in the state store, whatever the corpus, and COMPLETE mode
    * re-emits the census per micro-batch (sources × 5 integers).
    *
    * Oracle-checkable because the bottom-k set is ORDER-FREE: any
    * micro-batch slicing, any merge tree, the same k pairs — so the
    * DuckDB restatement of the batch sketch (the q164 sampling CTE,
    * sketch arm only) hash-matches the stream's final census.
    * QuantileSketchSpec pins the partitioning invariance; q164 carries
    * the exact-arm certification of the estimates themselves. */
  def q168StreamQuantileMonitor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ss = EventStreams.streamSession(spark)
    graft.functions.QuantileSketch.register(ss)
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    val docs = ss.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    val hv = expr("CAST(conv(substring(md5(concat('btk:', CAST(doc_id AS STRING))), 1, 14), 16, 10) AS BIGINT)")
    val sk = docs
      .select(col("source"), hv.as("hv"), col("n_chars"))
      .groupBy("source")
      .agg(expr("graft_btk_pairs(hv, n_chars, 64)").as("pairs"))
    def pick(pct: Int) =
      element_at(col("vs"), expr(s"(m * $pct + 99) div 100").cast("int"))
    val census = sk
      .select(col("source"), size(col("pairs")).as("m"),
        expr("array_sort(transform(pairs, p -> p.v))").as("vs"))
      .select(col("source"), col("m").cast("long").as("m"),
        pick(25).as("p25_est"), pick(50).as("p50_est"),
        pick(75).as("p75_est"))
    EventStreams.runToMemory(spark, census, mode = "complete")
      .orderBy("source")
  }

  /** STREAMING SCD2 DIMENSION MAINTENANCE (q162): q145's incremental fold
    * run AT THE INGEST DOOR — post-cutoff events arrive as a stream and
    * each micro-batch folds into the standing dimension through
    * [[EventStreams.runVersionedFold]] + [[EventQueries.scd2Incremental]],
    * closing the loop the batch family left open: q137 builds the
    * dimension, q145 maintains it per load, q142 reads it — this is the
    * continuous write path between them (the reference's Kafka-Streams
    * deployments maintain exactly such state stores on the live topic).
    *
    * Batch-order contract (the CLOSED-BATCH restriction): the fold is
    * rebuild-equal when each micro-batch is a closed time slab per key —
    * trivially true for this single-file AvailableNow replay (one batch),
    * asserted across explicitly time-sliced multi-batch runs in
    * StreamingScd2FoldSpec, and ENFORCED rather than assumed: an
    * out-of-order batch trips scd2Incremental's in-plan load-boundary
    * guard (assert_true) instead of minting overlapping intervals.
    *
    * The registered oracle is the FULL-REBUILD SQL verbatim (q137/q145's
    * scd2RebuildOracle — the registered-equality trick): a hash match
    * certifies stream-fold ≡ batch rebuild over the whole history.
    *
    * 100 TB shape: per batch, ONE pass over the standing dimension (semi/
    * anti split on the touched-key set), batch-bounded windows, and the
    * dimension lives as versioned parquet on shared storage — the driver
    * never holds a row, and a restart resumes from the last committed
    * version. */
  def q162StreamScd2Fold(spark: SparkSession, dir: String): DataFrame = {
    val ss = EventStreams.streamSession(spark)
    val cutoff = to_timestamp(lit("2024-01-22 00:00:00"))
    // Yesterday's stored artifact: the dimension as of the load boundary.
    val standing = EventQueries.scd2(
      Tables(spark, dir, "events").filter(col("ts") < cutoff),
      "user_id", "event_type")
    val arrivals = EventStreams.fileReplaySource(ss, dir)
      .filter(col("ts") >= cutoff)
    EventStreams.runVersionedFold(ss, arrivals, standing,
        "target/fold-store/q162")((base, batch) =>
        EventQueries.scd2Incremental(base, batch,
          key = "user_id", state = "event_type"))
      .select(col("user_id"), col("state"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
          .as("valid_to"),
        col("version"), col("is_current"))
      .orderBy("user_id", "version")
  }

  /** STREAMING kNN GRAPH MAINTENANCE (q163): q157's incremental fold run
    * at the ingest door — newly embedded vectors arrive as a stream and
    * each micro-batch folds into the standing q153 graph through
    * [[EventStreams.runVersionedFold]] + [[EmbedQueries.knnStreamFold]].
    * The arriving embedding rides the STREAM (as in production); the
    * static table only re-supplies already-folded vectors' embeddings,
    * standing in for the deployment's vector store. Unlike q162 there is
    * NO batch-order contract: the fold is rebuild-equal under ANY batch
    * slicing (banded candidate sets depend on bucket membership, not
    * arrival order — StreamingKnnFoldSpec pins 2-batch ≡ 1-batch ≡
    * rebuild), so the registered oracle is q153's graph SQL verbatim.
    *
    * 100 TB shape: per batch, candidate work is (batch ∪ probe-ball-
    * touched) × bucket-occupancy — never corpus²; the graph lives as
    * versioned parquet (edges + one fixed-width marker row per folded
    * vector), and the 2.2×-cheaper-than-rebuild economics q157 measured
    * apply per micro-batch. */
  def q163StreamKnnFold(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ss = EventStreams.streamSession(spark)
    val emb = Tables(spark, dir, "embeddings")
    val isDelta = col("vec_id") % 10 === 7
    val seed = EmbedQueries.knnFoldSeed(emb.filter(!isDelta), kNbrs = 3)
    val embSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    val arrivals = ss.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      .filter(isDelta)
    EventStreams.runVersionedFold(ss, arrivals, seed,
        "target/fold-store/q163")((base, batch) =>
        EmbedQueries.knnStreamFold(base, batch, emb, kNbrs = 3))
      .filter(col("rank") > 0L) // markers are store state, not output
      .orderBy("vec_id", "rank")
  }

  /** STREAMING INCREMENTAL SHARD PUBLISHER (q173): q165's publish
    * decision maintained AT THE INGEST DOOR — today's snapshot arrives
    * as a stream and each micro-batch upserts its manifest rows
    * (doc_id, content hash, n_chars) into the standing merged manifest
    * through [[EventStreams.runVersionedFold]] +
    * [[DocQueries.shardPublishFold]]; the final committed store IS the
    * full-outer diff table, and the publish census reads it once
    * ([[DocQueries.shardPublishCensus]] — the identical tail q165
    * runs). Closes the last batch/stream asymmetry: every incremental
    * operator family (SCD2 q145/q162, kNN q157/q163, publish
    * q165/q173) now has both doors.
    *
    * NO batch-order contract: the merge is keyed by doc_id and each doc
    * arrives once (re-delivery coalesces to the identical content), so
    * the drained store equals the batch full-outer join under ANY
    * micro-batch slicing — the registered oracle is q165's census SQL
    * VERBATIM (the q154/q162/q163 registered-equality trick), and
    * StreamShardPublishSpec pins 2-batch ≡ 1-batch ≡ batch q165.
    * Docs that never arrive keep h_b null and census as deleted — the
    * stream needs no tombstones because the verdict is computed against
    * the seeded A-side manifest, not row presence.
    *
    * 100 TB shape: per batch, ONE pass over the standing fixed-width
    * manifest (full-outer equi-join on doc_id — 32-byte hashes cross
    * the exchange, never text); the manifest lives as versioned parquet
    * on shared storage and the census is one 64-group aggregate at
    * read time. */
  def q173StreamShardPublish(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ss = EventStreams.streamSession(spark)
    val docs = Tables(spark, dir, "documents")
    // Yesterday's stored artifact: the published snapshot's manifest
    // (q47's shape), seeded with today's side still unknown.
    val seed = docs.select(col("doc_id"), md5(col("text")).as("h_a"),
      lit(null).cast("string").as("h_b"), lit(null).cast("long").as("nc_b"))
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    // Today's snapshot arriving: q159/q165's deterministic delta
    // derivation applied on the stream (deletes simply never arrive).
    val arrivals = ss.readStream.schema(docSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
      .filter(col("doc_id") % 10 =!= 3)
      .select(
        when(col("doc_id") % 10 === 7, col("doc_id") + 1000000000L)
          .otherwise(col("doc_id")).as("doc_id"),
        md5(when(col("doc_id") % 10 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text"))).as("h_b"),
        when(col("doc_id") % 10 === 5, col("n_chars") + 5L)
          .otherwise(col("n_chars")).as("nc_b"))
    val store = EventStreams.runVersionedFold(ss, arrivals, seed,
      "target/fold-store/q173")(DocQueries.shardPublishFold)
    DocQueries.shardPublishCensus(store, "seed42", 64)
  }
}
