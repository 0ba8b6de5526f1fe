package graft.streaming

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupStateTimeout,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, Trigger,
  ValueState}
import org.apache.spark.sql.types._

/** The streaming half of the engine — the reference's Kafka Streams
  * topology (/root/reference/stream-processing/) re-expressed in Structured
  * Streaming semantics (SURVEY §2.9):
  *
  *   - S5 source: file replay of `events`-shaped records (Kafka source is a
  *     one-line format swap; replay keeps the driver contract verifiable),
  *   - P8 re-key/normalize: blank-key filter + lower/trim
  *     (StreamProcessor.java:38-40),
  *   - J6/J7 stream–static broadcast joins (StreamProcessor.java:42-54),
  *   - A14/A15 1-minute tumbling exact-distinct counts with 0s watermark +
  *     append mode ≈ no-grace window + suppress-untilWindowCloses
  *     (AirlineAircraftCountStream.java:29-52),
  *   - K5 sink: memory/parquet via `runToMemory`; K6 upsert sink via
  *     `runUpsertLastWindowWins` (foreachBatch, Mongo-ReplaceOne parity —
  *     connectors/mongodb-*.json).
  *
  * Every topology here is a pure streaming-DataFrame => DataFrame function,
  * so tests drive them with MemoryStream and the registered queries drive
  * them with AvailableNow file replay — same plan, different source.
  */
object EventStreams {

  /** Keyed state for windowedDistinctCustomState: the per-(key, window)
    * id set (the reference's HashSet serde —
    * AirlineAircraftCountStream.java:118-130). */
  final case class SetState(users: Seq[Long])

  /** events-shaped schema; `ts` arrives as nano-epoch long (the testdata
    * writer emits TIMESTAMP(NANOS) parquet) and is rebuilt to a micro
    * timestamp, matching graft.sources.Tables for the batch side. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** S5: replay the events table as a file stream. Requires a session built
    * with spark.sql.legacy.parquet.nanosAsLong=true (the testdata's
    * TIMESTAMP(NANOS) parquet) — a session-build setting, not mutated here.
    *
    * The stream schema must match the file's physical type, so the batch
    * footer decides the `ts` shape: the shipped fixture stores
    * TIMESTAMP(NANOS) (arriving as nano-long under the flag, rebuilt to
    * micros here), while rewritten fixtures (e.g. TimestampShapeSpec's
    * re-written tables) store a plain micro TIMESTAMP that passes through —
    * the same dual handling graft.sources.Tables applies on the batch
    * side. */
  def fileReplaySource(spark: SparkSession, dir: String): DataFrame = {
    val tsIsLong = spark.read.parquet(s"$dir/events.parquet")
      .schema.fields.exists(f => f.name == "ts" && f.dataType == LongType)
    val schema =
      if (tsIsLong) eventSchema
      else StructType(eventSchema.map(f =>
        if (f.name == "ts") f.copy(dataType = TimestampType) else f))
    val raw = spark.readStream
      .schema(schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    val withTs =
      if (tsIsLong) raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else raw
    normalize(withTs)
  }

  /** P8 re-key + normalize: the streaming key column is an explicit
    * normalized column in Spark (keys are implicit); blank keys dropped
    * like StreamProcessor.java:39-40, and records without an event time or
    * id dropped like the reference's lenient-parse null filter
    * (StreamProcessor.java:89-92 returns null on malformed → filtered). */
  def normalize(events: DataFrame): DataFrame =
    events
      .withColumn("event_type", lower(trim(col("event_type"))))
      .filter(col("event_type").isNotNull && length(col("event_type")) > 0 &&
        col("ts").isNotNull && col("user_id").isNotNull)

  /** Ingest dedup for at-least-once sources (a Kafka producer retry, a
    * replayed file): drop re-deliveries of the same event id arriving
    * within the watermark delay. `dropDuplicatesWithinWatermark` keeps
    * per-id state only until the watermark passes the first sighting plus
    * the delay — bounded state, unlike a plain stream `dropDuplicates`
    * whose id set grows forever. The reference gets this from Kafka's
    * transactional producer + Streams EOS; this is the Structured
    * Streaming form of the same exactly-once ingest guarantee
    * (spec-asserted across micro-batches in StreamingReplaySpec). */
  def dedupedWithinWatermark(events: DataFrame, idCol: String,
                             delay: String): DataFrame =
    events.withWatermark("ts", delay).dropDuplicatesWithinWatermark(idCol)

  /** J6 + J7 + P9 + P10: enrich each event from two static lookups —
    * per-aircraft stats joined on the primary key (user_id → registry,
    * StreamProcessor.java:42-47) and per-type info joined on a key
    * extracted from the payload (callsign analogue: the `k` field inside
    * the props JSON, :48-54) — then re-serialize the enriched record to
    * JSON executor-side (:112-183 does this with Jackson by hand). */
  def enrich(events: DataFrame, registry: DataFrame, typeInfo: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long")) // P9
      .join(broadcast(registry), events("user_id") % 25 === registry("reg_key"), "left") // J6
      .join(broadcast(typeInfo), Seq("event_type"), "left") // J7
      .withColumn("enriched",
        to_json(struct(col("event_id"), col("ts"), col("user_id"),
          col("event_type"), col("reg_name"), col("type_count"), col("k")))) // P10

  /** LATENESS OBSERVABILITY: per-micro-batch input metrics — row count and
    * the event-time span — collected as a side effect of the topology's
    * own scan (`Dataset.observe`), never as a second pass; the streaming
    * twin of the batch [[graft.queries.DocQueries.qualityGateObserved]].
    * Each `StreamingQueryProgress` then carries BOTH halves of the late-
    * data audit through the standard listener API:
    *
    *   - `observedMetrics("graft_lateness")`: rows_in / min_ts / max_ts —
    *     what arrived this batch, observed BEFORE the stateful operator;
    *   - `stateOperators(i).numRowsDroppedByWatermark`: what the stateful
    *     operator then discarded as too late.
    *
    * arrived − aggregated = dropped is reconcilable per batch with zero
    * re-reads — at 100 TB a lateness audit that re-scans the source to
    * count drops is itself the bug. Spec: StreamingLatenessSpec asserts
    * the drop counter equals the injected late rows exactly. */
  def observedLateness(events: DataFrame,
                       name: String = "graft_lateness"): DataFrame =
    events.observe(name,
      count(lit(1)).as("rows_in"),
      min(col("ts")).as("min_ts"),
      max(col("ts")).as("max_ts"))

  /** A14: per-key 1-minute tumbling window EXACT distinct count.
    * `size(collect_set)` is the HashSet-state parity (countDistinct is not
    * available in streaming aggregation); 0-second watermark = no grace;
    * the caller runs it in append mode, which emits exactly one final row
    * per window after the watermark passes its end — `suppress(
    * untilWindowCloses)` parity. approx_count_distinct is the documented
    * escape hatch when per-key set state is too large at 100 TB. */
  def windowedDistinct(events: DataFrame, key: Column, keyName: String): DataFrame =
    events
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 minute"), key.as(keyName))
      .agg(size(collect_set(col("user_id"))).cast("long").as("distinct_users"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col(keyName), col("distinct_users"))

  /** SLIDING windows (parity-plus: every window in the reference's stream
    * layer is tumbling) — 2-minute windows advancing every 1 minute, so
    * each event belongs to exactly two overlapping windows (starts at
    * floor-to-minute(ts) and one slide earlier; Spark aligns slide
    * multiples to the epoch). Watermark/append semantics are identical to
    * the tumbling form — a window emits once, when the watermark passes
    * its END. State cost is the tumbling cost × (length / slide): the
    * overlap factor is the knob that trades smoothing granularity for
    * state size at 100 TB, and it multiplies STATE only, not input —
    * Spark expands each row into its window set before the aggregation's
    * map-side combine, so the shuffle still carries partial aggregates. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "2 minutes", "1 minute"), col("event_type"))
      .agg(count(lit(1)).as("event_count"),
        size(collect_set(col("user_id"))).cast("long").as("distinct_users"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("event_count"), col("distinct_users"))

  /** A15 + J8 (stream form): geo-match each event against the static
    * airport dim with the grid-bucketed equi-join (never a per-event scan
    * of all airports — AirportAircraftCountStream.java:224-235 does the
    * naive loop), then count distinct aircraft per (airport, minute). */
  def geoWindowedDistinct(events: DataFrame, airports: DataFrame,
                          radiusKm: Double): DataFrame = {
    // Watermark BEFORE the join: every event must advance event time, even
    // ones the geo match filters out — otherwise the final watermark is the
    // max ts among *matched* rows only and the last window never closes.
    val withCoords = events
      .withWatermark("ts", "0 seconds")
      .withColumn("ev_lat", (col("event_id") * 17 % 120 - 60).cast("double"))
      .withColumn("ev_lon", (col("event_id") * 29 % 360 - 180).cast("double"))
    val matched = graft.ops.core.geoGridJoin(withCoords, airports,
      col("ev_lat"), col("ev_lon"), col("ap_lat"), col("ap_lon"),
      radiusKm, cellLatDeg = 8.0, cellLonDeg = 15.0)
    matched
      .groupBy(window(col("ts"), "1 minute"), col("n_name").as("airport"))
      .agg(size(collect_set(col("user_id"))).cast("long").as("distinct_aircraft"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("airport"), col("distinct_aircraft"))
  }

  /** A14 again, but with EXPLICIT keyed state: `flatMapGroupsWithState`
    * holding the per-(key, window) id set and emitting once on event-time
    * timeout — the literal Structured Streaming transcription of the
    * reference's HashSet-per-window + suppress topology
    * (AirlineAircraftCountStream.java:38-52). The declarative
    * window+collect_set form (windowedDistinct) is the production default;
    * this form is the extension point when state needs custom logic the
    * built-ins can't express (capped sets, early heuristics, TTL tiers).
    * Emission parity with windowedDistinct is spec-asserted. */
  def windowedDistinctCustomState(events: DataFrame, keyName: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val keyed = events
      .withWatermark("ts", "0 seconds")
      .select(col(keyName).as("k"),
        date_trunc("minute", col("ts")).as("win_start"),
        col("ts"), col("user_id"))
      .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .groupByKey { case (k, win, _, _) => (k, win.getTime) }
    keyed.flatMapGroupsWithState[SetState, (String, String, Long)](
      OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
      case ((k, winMs), rows, state) =>
        if (state.hasTimedOut) {
          // watermark passed window end: emit the final count exactly once
          val n = state.get.users.size.toLong
          state.remove()
          val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
          fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
          Iterator((fmt.format(new java.util.Date(winMs)), k, n))
        } else {
          val seen = if (state.exists) state.get.users.toSet else Set.empty[Long]
          val merged = seen ++ rows.map(_._4)
          state.update(SetState(merged.toSeq))
          // Event-time timeout fires when watermark > timestamp (strict),
          // but append-mode windows emit when window.end <= watermark —
          // aim 1ms before window end so both emit on the same watermark,
          // including a max event time landing exactly on the boundary.
          state.setTimeoutTimestamp(winMs + 60000L - 1L)
          Iterator.empty
        }
    }.toDF("win_start", keyName, "distinct_users")
  }

  /** The SAME topology on Spark 4's `transformWithState` — the successor
    * arbitrary-state API (flatMapGroupsWithState's replacement): typed
    * named state slots from a handle instead of one opaque state value,
    * explicit timers instead of a timeout mode, and per-slot TTL. Emission
    * parity with both the declarative window and the fMGWS form is
    * spec-asserted (StreamingReplaySpec). Requires the RocksDB state-store
    * provider ([[streamSession]]'s `rocksDbState = true`) — the provider
    * this engine documents for 100 TB state anyway. Timer convention
    * matches [[windowedDistinctCustomState]]: fire 1 ms before window end
    * so timer emission and append-mode window close land on the same
    * watermark. */
  def windowedDistinctTws(events: DataFrame, keyName: String): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", "0 seconds")
      .select(col(keyName).as("k"),
        date_trunc("minute", col("ts")).as("win_start"),
        col("ts"), col("user_id"))
      .as[(String, java.sql.Timestamp, java.sql.Timestamp, Long)]
      .groupByKey { case (k, win, _, _) => (k, win.getTime) }
      .transformWithState(new WindowedDistinctProcessor(),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF("win_start", keyName, "distinct_users")
  }

  /** Keyed processor for [[windowedDistinctTws]]: one ValueState slot
    * holding the per-(key, window) id set, one event-time timer per
    * window to emit the final count exactly once. */
  final class WindowedDistinctProcessor extends StatefulProcessor[
      (String, Long),
      (String, java.sql.Timestamp, java.sql.Timestamp, Long),
      (String, String, Long)] {
    @transient private var users: ValueState[SetState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      users = getHandle.getValueState[SetState]("users",
        org.apache.spark.sql.Encoders.product[SetState], TTLConfig.NONE)

    override def handleInputRows(
        key: (String, Long),
        rows: Iterator[(String, java.sql.Timestamp, java.sql.Timestamp, Long)],
        timerValues: TimerValues): Iterator[(String, String, Long)] = {
      val seen = if (users.exists()) users.get().users.toSet else Set.empty[Long]
      users.update(SetState((seen ++ rows.map(_._4)).toSeq))
      getHandle.registerTimer(key._2 + 60000L - 1L)
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: (String, Long), timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[(String, String, Long)] = {
      val n = if (users.exists()) users.get().users.size.toLong else 0L
      users.clear()
      val fmt = new java.text.SimpleDateFormat("yyyy-MM-dd HH:mm:ss")
      fmt.setTimeZone(java.util.TimeZone.getTimeZone("UTC"))
      Iterator((fmt.format(new java.util.Date(key._2)), key._1, n))
    }
  }

  private val sinkCounter = new AtomicInteger(0)

  /** Streaming-tuned child session. `spark.sql.shuffle.partitions` is ALSO
    * the state-store partition count, fixed at the first checkpoint — a
    * batch-oriented 32 (or 200) means 32 state stores, 32 commit files and
    * 32 tasks per micro-batch for what is KB-scale per-window state here.
    * A child session (shared SparkContext/CacheManager, isolated SQLConf)
    * scopes a stateful-appropriate partition count to the stream without
    * mutating the caller's session. At 100 TB the same knob goes UP with
    * key cardinality instead — it is per-topology, which is exactly why it
    * must not leak into the shared session.
    *
    * Builder-time configs (timezone, nanosAsLong) live in the shared
    * SparkConf and are inherited; only runtime `conf.set` state is not. */
  def streamSession(spark: SparkSession, statePartitions: Int = 4,
                    rocksDbState: Boolean = false): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    // The 100 TB state option: the default HDFS-backed provider keeps every
    // (key, window) entry on the executor HEAP — right for the KB-scale
    // state of these replays, wrong when keyed state outgrows memory (the
    // reference leans on Kafka Streams' RocksDB stores + changelog topics
    // for exactly this). RocksDB spills to local disk with bounded heap;
    // same results, different residence — parity spec-asserted.
    if (rocksDbState) s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  /** K5: run a (finite) streaming plan to completion with AvailableNow into
    * a memory sink and hand back the materialized result. Swap
    * `format("memory")` for kafka/parquet for a production sink — the plan
    * upstream is identical. The sink table registers in the catalog of the
    * session that OWNS the streaming plan (often a [[streamSession]]
    * child). The sink already holds its rows in memory, so they are read
    * back (no job) into a frame of `spark` and the sink's view is dropped: a
    * frame of the child would keep the child session, its sink and its
    * listener buses reachable for as long as the caller's plans are. */
  def runToMemory(spark: SparkSession, streamed: DataFrame,
                  mode: String = "append"): DataFrame = {
    val name = s"graft_stream_${sinkCounter.incrementAndGet()}"
    val q = streamed.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode) // append = final-only emission (suppress parity)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val owner = streamed.sparkSession
    val sink = owner.table(name)
    val out = spark.createDataFrame(sink.collectAsList(), sink.schema)
    owner.catalog.dropTempView(name)
    out
  }

  /** K6: upsert sink — foreachBatch applies last-window-wins per key, the
    * Mongo ReplaceOne-on-_id semantics of the reference's Connect sink.
    *
    * The store is a VERSIONED PARQUET KEY-STORE, not driver memory: each
    * micro-batch merges the previous snapshot with the batch's emitted
    * windows via a partition-parallel per-key max-window reduction (a
    * `row_number` over the key — shuffles on the key, never collects), and
    * writes snapshot `v<batchId>`. Writing a NEW version instead of
    * overwriting in place keeps the read-merge-write cycle crash-safe (a
    * killed batch leaves the previous snapshot intact) and makes retries
    * idempotent (re-running batch N rewrites the same v<N> from the same
    * parent — append emits each window at most once, and a replayed window
    * carries the same exact count). At 100 TB the same shape holds: the
    * merge is a shuffle bounded by live key cardinality, the driver never
    * sees a row, and the snapshot outlives the driver. Result is
    * independent of micro-batch slicing because max(win_start) per key is
    * associative across any batch partitioning (spec-asserted).
    *
    * `storeDir` is wiped at start so replayed runs are self-contained; a
    * production deployment keeps it to resume last-window-wins across
    * restarts. */
  /** The last-window-wins reduction: one row per key — the max-win_start
    * row across base ∪ emitted. A `row_number` over the key partition:
    * shuffles on the key, fully executor-parallel. Associative across any
    * batch slicing (merge(merge(s, b1), b2) == merge(s, b1 ∪ b2)), which is
    * what makes the upsert sink's result independent of how the stream was
    * micro-batched — spec-asserted in StreamingReplaySpec. */
  def upsertMerge(base: DataFrame, emitted: DataFrame, keyCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(keyCol)).orderBy(desc("win_start"))
    base.unionByName(emitted)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Latest COMMITTED snapshot under `storeDir` — the store's recovery
    * read. Only version dirs carrying `_SUCCESS` count: a writer killed
    * between versioned writes leaves a version dir without `_SUCCESS`
    * (possibly with partial or corrupt part files), which must never be
    * read as "latest" when a caller resumes. Torn versions are simply
    * invisible; the store falls back to the newest committed ancestor
    * (property-asserted across random committed/torn version sequences in
    * UpsertRecoveryPropsSpec). */
  def latestCommittedVersion(spark: SparkSession,
                             storeDir: String): Option[org.apache.hadoop.fs.Path] = {
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else fs.listStatus(root).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v") &&
        s.getPath.getName.drop(1).forall(_.isDigit) &&
        fs.exists(new org.apache.hadoop.fs.Path(s.getPath, "_SUCCESS")))
      .sortBy(_.getPath.getName.drop(1).toLong)
      .lastOption.map(_.getPath)
  }

  /** The upsert store's resume entry point: the snapshot a restarted
    * deployment merges its next batch onto. */
  def readUpsertStore(spark: SparkSession, storeDir: String): Option[DataFrame] =
    latestCommittedVersion(spark, storeDir)
      .map(p => spark.read.parquet(p.toString))

  /** VERSIONED-STORE FOLD SINK: foreachBatch folds each micro-batch into a
    * STANDING ARTIFACT kept as a versioned parquet store — the
    * [[runUpsertLastWindowWins]] machinery generalized to an arbitrary
    * incremental fold. `seed` is written as v0 (yesterday's stored
    * artifact — the dimension, the kNN graph); each micro-batch reads the
    * latest COMMITTED snapshot, applies `fold(base, batch)` — a pure
    * batch-DataFrame function, so the q145/q157-style incremental
    * operators plug in unchanged — and writes `v<batchId+1>`.
    *
    * Crash-safety and retry idempotence are the upsert sink's, with one
    * strengthening: batch N reads its parent PINNED as `v<N>` (verifying
    * `_SUCCESS`), not "latest committed" — so even if batch N is
    * re-attempted AFTER v<N+1> committed (commit-log failure after a
    * successful fold write, or a later-added checkpointLocation replaying
    * a batch), the retry folds onto the same parent and rewrites the same
    * v<N+1> rather than double-applying a non-idempotent fold onto its own
    * output. A killed batch leaves the previous committed version intact
    * (torn versions carry no _SUCCESS and are never a parent). The fold
    * itself must make SEQUENTIAL per-batch application equal the one-shot
    * fold of the union — each caller's registered-equality oracle (q162's
    * scd2 rebuild, q163's kNN rebuild) certifies exactly that, and each
    * caller documents the batch-order contract its fold needs (q162:
    * time-closed batches per key, enforced in-plan by scd2Incremental's
    * load-boundary guard).
    *
    * Invocation semantics: each CALL is one complete fold run — the store
    * is wiped and re-seeded as v0, then the AvailableNow stream folds
    * every pending batch (no checkpointLocation is set, so a re-invocation
    * reprocesses the source from batch 0 against the fresh seed; "resume"
    * means intra-run batch retries, not cross-invocation restart). A
    * deployment wanting cross-restart resume would pass yesterday's
    * committed version as `seed` — exactly how q162/q163 chain days.
    *
    * 100 TB shape: the store IS the output dataset (a dimension table, an
    * edge list) — parquet on shared storage, written by executor-parallel
    * jobs; the driver never holds a row, and state across restarts lives
    * in the store, not the checkpoint. */
  def runVersionedFold(spark: SparkSession, streamed: DataFrame,
                       seed: DataFrame, storeDir: String)
                      (fold: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(hconf)
    if (fs.exists(root)) fs.delete(root, true)
    seed.write.mode("overwrite").parquet(s"$storeDir/v0")
    val q = streamed.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        // Parent pinned to THIS batch's version, not "latest committed":
        // a batch-N retry after v<N+1> committed must fold onto v<N>
        // again (idempotent rewrite), never onto its own output.
        val parent = new org.apache.hadoop.fs.Path(s"$storeDir/v$batchId")
        val pfs = parent.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (!pfs.exists(new org.apache.hadoop.fs.Path(parent, "_SUCCESS")))
          throw new IllegalStateException(
            s"versioned fold parent missing or uncommitted: $parent")
        val base = s.read.parquet(parent.toString)
        fold(base, batch)
          .write.mode("overwrite").parquet(s"$storeDir/v${batchId + 1}")
        ()
      }
      .start()
    q.awaitTermination()
    latestCommittedVersion(spark, storeDir)
      .map(p => spark.read.parquet(p.toString))
      .getOrElse(seed.limit(0))
  }

  def runUpsertLastWindowWins(spark: SparkSession, streamed: DataFrame,
                              keyCol: String, storeDir: String): DataFrame = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(storeDir)
    val fs = root.getFileSystem(hconf)
    if (fs.exists(root)) fs.delete(root, true)

    def latestVersion(): Option[org.apache.hadoop.fs.Path] =
      latestCommittedVersion(spark, storeDir)

    val q = streamed.writeStream
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val emitted = batch.select(col(keyCol), col("win_start"), col("distinct_users"))
        val base = latestVersion() match {
          case Some(p) => s.read.parquet(p.toString)
          case None    => emitted.limit(0)
        }
        upsertMerge(base, emitted, keyCol)
          .write.mode("overwrite").parquet(s"$storeDir/v$batchId")
        ()
      }
      .start()
    q.awaitTermination()
    latestVersion() match {
      case Some(p) => spark.read.parquet(p.toString)
      case None    => // stream emitted nothing: empty result, upstream schema
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField(keyCol, StringType),
            StructField("win_start", StringType),
            StructField("distinct_users", LongType))))
    }
  }
}
