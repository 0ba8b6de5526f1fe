package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Cut.{cut, fork}
import graft.sources.Tables

/** LLM-training-data pipeline operators over the `documents` table
  * (doc_id, text, lang, source, n_chars) — the north-star extras beyond the
  * reference's own surface (SURVEY §7.1): exact + near-duplicate
  * deduplication, text statistics, quality scoring, language ID, and
  * document fingerprinting.
  *
  * Scale notes (the 100 TB lens):
  *   - every shuffle key is a fixed-width hash / band signature, never the
  *     raw document text;
  *   - near-dup candidate generation is banded MinHash → equi-join on band
  *     key — NEVER an all-pairs cross join;
  *   - all per-document math is higher-order column expressions (transform/
  *     aggregate/filter) that stay inside whole-stage codegen — zero UDFs.
  */
object DocQueries {

  /** Tokenize: lowercase, trim, split on whitespace runs. */
  private def toks(text: Column): Column = split(lower(trim(text)), "\\s+")

  /** A persisted session relation of this family, built once per
    * (input plan, kind) through [[graft.Artifacts]]. The registry holds
    * the exact reference it persisted, so [[graft.Artifacts.clear]]
    * releases the precise relation that was cached. */
  private def memoShared(input: DataFrame, kind: String)
                        (build: => DataFrame): DataFrame =
    graft.Artifacts(input, kind)(
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The shared TOKENIZED corpus the token-reading queries share:
    * (doc_id, lang, source, chars, bpe, toks), persisted once. Two
    * reasons this is a table and not a per-query expression:
    *   - HOF expressions are interpreted and not CSE'd, so a projection
    *     that mentions `toks(text)` k times re-runs the regex split k times
    *     per row; materializing the array column removes the multiplier.
    *   - q21–q24, q47, q50 and the rest of the family read the token
    *     arrays themselves, many of them several times; at cluster scale
    *     this is the checkpoint a curation run materializes once rather
    *     than re-tokenizing 100 TB per consumer. (Spark's cache manager
    *     dedups same-plan persists, so every caller here shares one
    *     InMemoryRelation.)
    * The near-dup family does NOT read it: [[shingledHashed]] tokenizes
    * inline, because it reads the tokens once, to hash the shingles, and
    * caching 2.8× the raw corpus to save one split per row does not pay.
    * Raw text is dropped — the cached row carries only fixed-width stats
    * and the token array.
    *
    * Cache lifetime: session-scoped by design (the bench/verify harness
    * reads the doc family many times per session and the cache manager
    * keeps exactly one copy). Library callers embedding a single query in
    * a longer-lived session can release both shared relations (this one
    * and the shingle table) with [[graft.Artifacts.clear]]. */
  private def tokenizedDocs(docs: DataFrame): DataFrame =
    memoShared(docs, "tokenized") {
      docs.select(
        col("doc_id"), col("lang"), col("source"),
        length(col("text")).as("chars"),
        // BPE-ish subword proxy: letter runs, digit runs, single marks.
        regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))
          .as("bpe"),
        toks(col("text")).as("toks"))
    }

  /** Distinct 3-word shingles of a token array (empty when < 3 tokens).
    *
    * Built from three shifted `slice`s merged with `zip_with`, NOT from an
    * index lambda doing `element_at(t, i)` — HOFs evaluate interpreted, so
    * a lambda body referencing the token-array *expression* re-evaluates it
    * (including the regex split) once per element per reference: O(len²)
    * per document. The slice form evaluates each collection exactly once
    * per row (benched 17 s → sub-second for the shingle stage at sf0.1). */
  private def shingles(t: Column): Column = {
    val n = size(t)
    val tri = zip_with(
      slice(t, lit(1), n - 2),
      zip_with(slice(t, lit(2), n - 2), slice(t, lit(3), n - 2),
        (b, c) => concat(b, lit(" "), c)),
      (a, bc) => concat(a, lit(" "), bc))
    when(n >= 3, array_distinct(tri)).otherwise(array().cast("array<string>"))
  }

  /** First `n` hex nibbles of md5(input col) as an unsigned long (n ≤ 15). */
  private def md5Long(c: Column, n: Int): Column =
    conv(substring(md5(c), 1, n), 16, 10).cast("long")

  /** Exact deduplication: group by a fixed-width content hash of the
    * normalized text (shuffle key is 32 bytes regardless of document size),
    * keep the smallest doc_id per group — the standard keep-first policy. */
  def q20DocsExactDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    docs
      .select(md5(lower(trim(col("text")))).as("text_hash"), col("doc_id"))
      .groupBy("text_hash")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_count"))
      .orderBy("text_hash")
  }

  /** Per-language corpus statistics: token counts, type/token ratio, token
    * length — all computed with HOFs over the token array in one pass.
    *
    * The two ratio means (avg_ttr, avg_token_len) quantize each per-row
    * ratio to 1e-9 and sum as LONG before dividing by the count: a
    * partial-aggregate merge combines exact integers, so the result is
    * identical under ANY partitioning / merge order — a plain
    * avg-of-double here would vary in the last bits with parallelism and
    * could flip the 6-decimal rounding against the sequential DuckDB
    * oracle. The integer-valued means (tokens, bpe, chars) are exact in
    * double as long as partial sums stay under 2^53, so plain avg is
    * already order-insensitive for them. */
  def q21DocsTextStats(spark: SparkSession, dir: String): DataFrame = {
    val t = col("toks")
    tokenizedDocs(Tables(spark, dir, "documents"))
      .select(
        col("lang"),
        col("chars"),
        size(t).as("n"),
        size(array_distinct(t)).as("nd"),
        aggregate(t, lit(0), (acc, x) => acc + length(x)).as("sumlen"),
        col("bpe"))
      .select(col("lang"), col("chars"), col("n"), col("bpe"),
        round(col("nd").cast("double") / col("n") * lit(1e9)).cast("long")
          .as("ttr_e9"),
        round(col("sumlen").cast("double") / col("n") * lit(1e9)).cast("long")
          .as("tlen_e9"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("doc_count"),
        round(avg(col("n")), 4).as("avg_tokens"),
        round(avg(col("bpe")), 4).as("avg_bpe_tokens"),
        round(sum(col("ttr_e9")).cast("double") / lit(1e9) / count(lit(1)), 6)
          .as("avg_ttr"),
        round(sum(col("tlen_e9")).cast("double") / lit(1e9) / count(lit(1)), 6)
          .as("avg_token_len"),
        round(avg(col("chars")), 4).as("avg_chars"))
      .orderBy("lang")
  }

  /** Per-document quality score: type/token ratio, stopword ratio, and a
    * capped length credit combined into [0,1]; banded for triage. The
    * weights are arbitrary but fixed — the operator shape (pure arithmetic
    * over HOF-derived stats, no shuffle until the final sort) is the point. */
  def q22DocsQuality(spark: SparkSession, dir: String): DataFrame = {
    val t = col("toks")
    val base = tokenizedDocs(Tables(spark, dir, "documents")).select(
      col("doc_id"),
      size(t).as("n_tokens"),
      (size(filter(t, x => x === "the" || x === "a")).cast("double") / size(t)).as("stop_ratio"),
      (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
    val quality = round(
      lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
        lit(0.3) * least(col("n_tokens").cast("double") / 100.0, lit(1.0)), 6)
    base
      .select(
        col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        round(col("stop_ratio"), 6).as("stop_ratio"),
        round(col("ttr"), 6).as("ttr"),
        quality.as("quality"),
        when(quality >= 0.75, "high").when(quality >= 0.5, "medium")
          .otherwise("low").as("quality_band"))
      .orderBy("doc_id")
  }

  /** Language-ID heuristic → confusion counts against the labeled `lang`.
    * The synthetic corpus shares one vocabulary across languages, so the
    * honest signal that remains is an English-marker (stopword) ratio:
    * docs with ≥2% marker tokens classify as 'en', the rest 'und'. The
    * operator shape — per-doc n-gram/marker scoring, then a tiny confusion
    * aggregate — is what carries to a real corpus. */
  def q23DocsLangId(spark: SparkSession, dir: String): DataFrame = {
    val t = col("toks")
    val ratio = size(filter(t, x => x === "the" || x === "a")).cast("double") / size(t)
    tokenizedDocs(Tables(spark, dir, "documents"))
      .select(col("lang"), when(ratio >= 0.02, "en").otherwise("und").as("predicted_lang"))
      .groupBy("lang", "predicted_lang")
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "predicted_lang")
  }

  /** Document fingerprint: order-sensitive rolling polynomial hash over the
    * token stream, with each token pre-hashed to 32 bits via md5. Narrow
    * (no shuffle) until the final sort; the fingerprint is join-/group-able
    * at fixed width for downstream near-dup triage. */
  def q24DocsFingerprint(spark: SparkSession, dir: String): DataFrame =
    tokenizedDocs(Tables(spark, dir, "documents"))
      .select(
        col("doc_id"),
        aggregate(col("toks"), lit(0L),
          (h, x) => (h * 31L + md5Long(x, 8)) % 1000000007L).as("fingerprint"))
      .orderBy("doc_id")

  /** Near-duplicate detection: MinHash + LSH banding.
    *
    * shingle(3-word) → 8 MinHash signatures (lexicographic min of seeded
    * md5 over the shingle set) → 4 bands of 2 rows → explode band keys →
    * self equi-join on band key (doc_a < doc_b) → exact Jaccard verify
    * ≥ 0.7 on the candidate pairs only. It reads the session's shingle
    * table ([[shingledHashed]]) and never the tokenized corpus.
    *
    * At 100 TB the only shuffles are the band-key join (fixed 65-byte keys)
    * and the two hash joins that re-attach the sorted shingle-hash arrays
    * for verification (8-byte elements, never shingle strings); candidate
    * count is bounded by true near-dups + banding false positives, never
    * O(n²). */
  def q25DocsMinhashNeardup(spark: SparkSession, dir: String): DataFrame =
    minhashNeardup(Tables(spark, dir, "documents"), 0.7)

  /** The reusable operator behind q25 over any (doc_id, text, …) frame.
    *
    * Perf note: each shingle is hashed with md5 ONCE to a 56-bit long; the
    * 8 MinHash functions are then cheap multiply-add rehashes of that long
    * (`(h·(2s+1) + 7919s) mod p` — the standard universal-hash family).
    * The naive per-seed md5 (8× the digest work) benched 43 s at sf0.1;
    * this shape is ~20× cheaper on the hashing stage.
    *
    * The verify re-attaches the sorted hash arrays and counts the
    * intersection with `graft_overlap` ([[withOverlapUnion]]). Equal
    * shingles hash equal, so the hash Jaccard equals the string Jaccard
    * unless two DISTINCT shingles of one pair collide in 56 bits
    * (~2⁻⁵⁶·|A|·|B|, q66/q87's argument). The cut is on the ROUNDED
    * value, as the q25 oracle states it (round to 4 places, then
    * ≥ threshold) — unlike q66/q87/q74, which cut unrounded. */
  def minhashNeardup(docs: DataFrame, threshold: Double): DataFrame = {
    val withHs = shingledHashed(docs)
    withOverlapUnion(candPairs(withHs)
      .join(withHs.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(withHs.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b"))
      .select(col("doc_a"), col("doc_b"),
        round(col("ov").cast("double") / col("uni"), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy("doc_a", "doc_b")
  }

  /** The session's shingle table (doc_id, hs), built from a corpus'
    * (doc_id, text) and keyed in [[graft.Artifacts]] on that projection,
    * so every near-dup caller over one corpus shares one table whatever
    * frame it passes. It feeds band explode, every verify join, the
    * prefix candidates and the decontamination explode.
    *
    * The text is tokenized inline, not read from [[tokenizedDocs]]: the
    * tokens are read once, to hash the shingles, so caching them does
    * not pay. `shingles` references the token array seven times, so
    * CollapseProject keeps it in its own projection and `split` runs
    * once per row (inlined, the HOF trap in [[shingles]] re-splits).
    *
    * Only the 56-bit md5-derived hash of each distinct shingle is
    * stored; the shingle strings are a transient step before hashing
    * (cached beside their hashes they would make the relation about
    * four times larger, and every verify reads the hashes only).
    * `hs` is stored SORTED ascending — one sort per document here buys
    * (a) map-only prefix extraction in q66's hash-order candidate path
    * (a plain `slice`, no per-row re-sort) and (b) the `graft_overlap`
    * two-pointer verify, which counts the intersection per candidate
    * PAIR with zero allocation (its sorted-input contract). Every other
    * consumer treats hs as a set (band min-hash, explode), so the order
    * is free for them.
    *
    * Documents of fewer than 3 tokens have no shingle and are dropped.
    * The drop is a filter on `size(hs) > 0` above the persisted
    * relation (the same rows as `size(toks) >= 3`): a filter below it
    * is pushed under the token projection and splits every row twice.
    * Session-scoped like [[tokenizedDocs]]; released by
    * [[graft.Artifacts.clear]]. */
  private def shingledHashed(docs: DataFrame): DataFrame = {
    val text = docs.select("doc_id", "text")
    memoShared(text, "shingled") {
      text.select(col("doc_id"), toks(col("text")).as("toks"))
        .select(col("doc_id"), array_sort(transform(shingles(col("toks")),
          x => md5Long(x, 14))).as("hs"))
    }.filter(size(col("hs")) > 0)
  }

  /** The banded candidate pairs BEFORE the exact-Jaccard verify — the
    * quantity whose growth decides whether MinHash+LSH survives a scale-up
    * (linear in corpus size when banding holds, quadratic when buckets
    * degenerate). ScaleShapeSpec pins its count at ×1 and ×4; q25
    * consumes it via the verify join. */
  private[graft] def minhashCandidates(docs: DataFrame): DataFrame =
    candPairs(shingledHashed(docs))

  /** (doc_id, band_key) — 4 bands × 2 MinHash rows per doc, band id baked
    * into the key so one equi-join covers all bands. Shared by the
    * corpus-self candidate join (q25) and the delta-vs-corpus incremental
    * join (q74). */
  private def bandsOf(withHs: DataFrame): DataFrame = {
    val P = 1000000007L
    def sig(s: Int): Column =
      array_min(transform(col("hs"), h => (h * (2 * s + 1) + s * 7919L) % P))
    val bandKeys = (0 until 4).map(b =>
      concat_ws("|", lit(b), sig(2 * b), sig(2 * b + 1)))
    withHs.select(col("doc_id"), explode(array(bandKeys: _*)).as("band_key"))
  }

  private def candPairs(withHs: DataFrame): DataFrame = {
    val bands = bandsOf(withHs)
    bands.as("a")
      .join(bands.as("b"),
        col("a.band_key") === col("b.band_key") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** Adds `ov` = |A∩B|, the `graft_overlap` two-pointer count over the
    * re-attached sorted hash arrays `ha` and `hb`, and `uni` = |A∪B| =
    * |A| + |B| − ov (one hash per distinct shingle in each array). The one
    * near-dup verify kernel behind q25/q79, q74 and q87. */
  private def withOverlapUnion(pairs: DataFrame): DataFrame = {
    graft.functions.VectorExpressions.register(pairs.sparkSession)
    pairs
      .withColumn("ov", call_function("graft_overlap", col("ha"), col("hb")))
      .withColumn("uni", size(col("ha")) + size(col("hb")) - col("ov"))
  }

  /** Deterministic STRATIFIED SAMPLING (q49) — the training-mix knob every
    * curation run turns: per-language keep-rates (downweight the dominant
    * language, keep the tail) applied via a salted hash of the doc id
    * (md5 → 56-bit long, mod 100), NOT `rand()`/`sampleBy`. Zero RNG is
    * the load-bearing property at 100 TB: the sample is reproducible
    * across engines, retries and partial re-runs (a task retry with
    * rand() re-draws and silently changes the corpus), and membership is
    * decidable per-row with no shuffle — the filter rides the scan. */
  def q49StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val bucket =
      md5Long(concat(lit("graft-sample|"), col("doc_id").cast("string")), 14) % 100
    val rate = when(col("lang") === "en", 25).otherwise(75)
    Tables(spark, dir, "documents")
      .filter(bucket < rate)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** TOKEN-BUDGET PACKING (q50): per language, admit documents in quality
    * order until a token budget is exhausted — the "fill the training mix"
    * step after scoring (q22) and dedup. A running-total window (ROWS
    * unbounded-preceding, quality-desc with doc_id tie-break on the
    * 6-rounded score so the order is total and engine-independent) keeps
    * the cumulative token count; the filter keeps rows while it fits.
    * One shuffle on the stratum key — the same cost as any per-language
    * aggregation; budgets per stratum are how a 100 TB mix is actually
    * specified (tokens, not documents). */
  def q50TokenBudgetPack(spark: SparkSession, dir: String): DataFrame =
    packToBudget(scoredDocs(tokenizedDocs(Tables(spark, dir, "documents"))), 2000L)
      .orderBy("lang", "cum_tokens", "doc_id")

  /** (doc_id, lang, [extra…,] n_tokens, quality) over a tokenized frame —
    * the q22 scoring surface shaped for packing. `extra` columns (e.g.
    * `source` for the q94 domain-cap pack) ride along untouched; the
    * default keeps the historical 4-column shape q50/q52/q70/q76 emit. */
  private def scoredDocs(tokDf: DataFrame,
                         extra: Seq[String] = Nil): DataFrame = {
    val t = col("toks")
    val keys = Seq(col("doc_id"), col("lang")) ++ extra.map(col)
    val base = tokDf.select(keys ++ Seq(
      size(t).cast("long").as("n_tokens"),
      (size(filter(t, x => x === "the" || x === "a")).cast("double") / size(t))
        .as("stop_ratio"),
      (size(array_distinct(t)).cast("double") / size(t)).as("ttr")): _*)
    base.select(keys ++ Seq(col("n_tokens"),
      round(lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
        lit(0.3) * least(col("n_tokens").cast("double") / 100.0, lit(1.0)), 6)
        .as("quality")): _*)
  }

  /** Per-stratum greedy fill: running token total in quality order (the
    * 6-rounded score with doc_id tie-break makes the order total and
    * engine-independent), rows kept while the budget fits.
    *
    * Scale shape — the running-total window partitions by stratum, so a
    * naive plan funnels EVERY document of a language through one task (at
    * 100 TB: a multi-TB straggler sorting a whole language in one place).
    * A candidate-bounding first pass removes that: a per-(stratum,
    * quality-bucket) token histogram — a real aggregation with map-side
    * partial combine, output ≈ strata × 1001 rows regardless of corpus
    * size — finds, per stratum, the lowest bucket still reachable within
    * the budget. The prune is EXACT, not approximate: a document whose
    * bucket has ≥ budget tokens in strictly-higher buckets can never be
    * admitted (every strictly-higher-bucket document precedes it in the
    * (quality desc, doc_id) window order, so its running total already
    * exceeds the budget before it is reached). Survivors are bounded by
    * budget-many tokens plus one boundary bucket's worth — the exact
    * window then sorts ~budget-sized strata, not corpus-sized ones, and
    * the histogram window itself runs over ≤ 1001 rows per stratum.
    * Measured (SCALE.md): q50's ×10 runtime growth dropped from 2.9× to
    * ~1× once the window's input stopped tracking the corpus.
    *
    * Public as the reusable operator form (like [[decontaminate]]): takes
    * any (doc_id, lang, n_tokens, quality) frame; q50/q52 are the
    * registered instantiations.
    *
    * Precondition for the EXACT-prune claim: `n_tokens >= 1` per row. A
    * zero-token document adds nothing to the running total, so it can ride
    * in at a point where all strictly-higher buckets already total exactly
    * `budget` — a state the prefilter (correctly, for any n_tokens ≥ 1)
    * prunes. Null `quality` rows pass the prefilter untouched (see the
    * filter below) and fall to the window's null ordering. */
  def packToBudget(scored: DataFrame, budget: Long): DataFrame =
    packToBudget(scored, budget, Seq("lang"))

  /** Strata-generalized form: the stratum key is any column list — q50
    * packs per `lang`; the q94 domain-cap stage packs per `(lang,
    * source)`, where "pack to the cap" IS the cap (no source can exceed
    * the per-source token budget inside its language). The exact-prune
    * argument is per-stratum and carries over verbatim. */
  def packToBudget(scored: DataFrame, budget: Long,
                   strata: Seq[String]): DataFrame =
    packPrefix(scored, strata, lit(budget), identity)

  /** The one body behind [[packToBudget]] and [[packToBudgets]]: the
    * quality-bucket histogram prune, then the exact running-total window.
    * `withBudget` attaches whatever `budget` reads (nothing for a literal;
    * the inner budgets join for per-stratum budgets) to both the
    * histogram and the corpus. */
  private def packPrefix(scored: DataFrame, strata: Seq[String],
                         budget: Column,
                         withBudget: DataFrame => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sc = strata.map(col)
    // 1000 buckets over the [0,1] score; floor keeps the bucket edge below
    // every member, so "strictly-higher buckets" = "strictly-higher quality
    // prefix minus at most the boundary bucket" — the safe side.
    val qb = floor(col("quality") * 1000).cast("long")
    val hist = scored.groupBy(sc :+ qb.as("qb"): _*)
      .agg(sum("n_tokens").as("btoks"))
    val above = Window.partitionBy(sc: _*).orderBy(desc("qb"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val cutoffs = withBudget(hist)
      .withColumn("above", coalesce(sum("btoks").over(above), lit(0L)))
      .filter(col("above") < budget) // bucket still reachable within budget
      .groupBy(sc: _*).agg(min("qb").as("min_qb"))
    // LEFT join + null-pass filter: a stratum the cutoff table cannot
    // name (a null lang never equi-joins) must fall through to the exact
    // window un-pruned rather than be silently dropped, and a null-quality
    // row (null qb) must likewise pass — `null >= min_qb` is null, which
    // filter() treats as false, so without the explicit isNull arm the row
    // would vanish. Prefilter absence degrades to the pre-optimization
    // plan, never to data loss.
    val survivors = withBudget(scored)
      .join(broadcast(cutoffs), strata, "left")
      .filter(qb.isNull || col("min_qb").isNull || qb >= col("min_qb"))
      .drop("min_qb")
    val w = Window
      .partitionBy(sc: _*).orderBy(desc("quality"), asc("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    survivors
      .withColumn("cum_tokens", sum("n_tokens").over(w))
      .filter(col("cum_tokens") <= budget)
  }

  /** OBSERVED quality gate: the curation filter with its run metrics
    * attached — docs in, docs kept, token mass kept — collected as a side
    * effect of whatever action runs downstream (`Dataset.observe`), never
    * as a second pass. That is the 100 TB point: a pipeline that counts
    * its drops with a separate `count()` re-reads the corpus; an observed
    * metric rides the exact same scan, costs one aggregate buffer per
    * task, and reports through the same API a `StreamingQueryListener`
    * reads in production. The caller blocks on `obs.get` AFTER an action
    * has run on the returned frame (spec: ObservationSpec). */
  def qualityGateObserved(spark: SparkSession, dir: String,
                          minQuality: Double)
      : (DataFrame, org.apache.spark.sql.Observation) = {
    val scored = scoredDocs(tokenizedDocs(Tables(spark, dir, "documents")))
    val obs = org.apache.spark.sql.Observation()
    val kept = col("quality") >= minQuality
    val observed = scored.observe(obs,
      count(lit(1)).as("docs_in"),
      count(when(kept, 1)).as("docs_kept"),
      coalesce(sum(when(kept, col("n_tokens"))), lit(0L)).as("tokens_kept"))
    (observed.filter(kept), obs)
  }

  /** CURRICULUM DECILES (q70): per-language quality deciles with doc/token
    * mass per bin — the "order the corpus easy-to-hard" audit behind
    * curriculum schedules and quality-threshold ablations (which decile
    * does a cut at quality q actually drop, and how many tokens go with
    * it?). `ntile(10)` over the SAME total order q50 packs by (6-rounded
    * quality desc, doc_id) — the two views agree row-for-row, so a decile
    * here IS a budget prefix there.
    *
    * Scale shape: ntile is rank-based, so a naive window needs each
    * language's docs in one sorted partition — per-stratum
    * serialization. Fixed the same way as q108: the exact rank runs
    * through [[exactStratumRank]]'s two-level decomposition (per-lang
    * quantile range-buckets on the DESCENDING composite key → bucket
    * offsets → per-bucket row_number), and `ntile(t)` is restated as
    * its closed form over that exact rank — the first n mod t buckets
    * hold ⌈n/t⌉ rows, the rest ⌊n/t⌋, so
    *   decile = rnk ≤ r·(q+1) ? ⌈rnk/(q+1)⌉ : r + ⌈(rnk − r·(q+1))/q⌉
    * with q = n div 10, r = n mod 10 — pure integer arithmetic, map-only
    * after the rank. Bit-identical to `ntile(10)` over the per-lang
    * window (CalibrationSpec property); min/max/sum outputs are
    * order-insensitive, so the result stays engine-stable. q76 remains
    * the approximate sibling (cutpoint binning, boundary-epsilon
    * bins). */
  def q70CurriculumDeciles(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val scored = scoredDocs(tokenizedDocs(docs))
      .withColumn("k70", qualityDocKey(desc = true))
    exactStratumRank(scored, Seq("lang"), "k70", rankBuckets(docs))
      .withColumn("decile", expr(
        """CASE WHEN rnk <= (grp_n % 10) * (grp_n div 10 + 1)
          |     THEN (rnk + grp_n div 10) div (grp_n div 10 + 1)
          |     ELSE (grp_n % 10) +
          |          (rnk - (grp_n % 10) * (grp_n div 10 + 1)
          |           + grp_n div 10 - 1) div (grp_n div 10)
          |END""".stripMargin).cast("long"))
      .groupBy("lang", "decile")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens"),
        min("quality").as("min_quality"),
        max("quality").as("max_quality"))
      .orderBy("lang", "decile")
  }

  /** APPROX-CUTPOINT DECILES (q76) — q70's documented scale path,
    * registered: the same per-language curriculum audit with the
    * rank-based `ntile(10)` window (per-stratum serialization: one task
    * must sort a whole language) replaced by
    *   1. decile CUTPOINTS via `approx_percentile(quality, p1..p9)` — a
    *      map-combinable AGGREGATE (GK sketch, partial-merge), output 9
    *      doubles per stratum regardless of corpus size;
    *   2. a broadcast of the tiny cutpoint table back onto the corpus;
    *   3. MAP-ONLY bin assignment: decile = 1 + |{cuts strictly below
    *      quality}| — the upper-bound rule, no sort, no window.
    * The trade is exact equal-count bins for boundary-epsilon ones; at
    * the fixture sizes the sketch is EXACT (n ≪ accuracy=1e6, and the
    * full-accuracy sketch returns the element at rank ⌈p·n⌉,
    * partition-stable — measured, not assumed), so the oracle restates
    * the cutpoints with an explicit row_number = ⌈p·n⌉ rank formula and
    * the bins hash-match. At 100 TB `accuracy` becomes the
    * memory/precision dial and bins drift by ε·n per boundary — the
    * price of deleting the per-stratum sort. Plan pin (PlanPinsSpec): NO
    * Window operator anywhere; the only corpus-scale exchanges carry
    * partial aggregates. */
  def q76DecileCutpoints(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocs(tokenizedDocs(Tables(spark, dir, "documents")))
    val ps = (1 to 9).map(p => lit(p / 10.0))
    val cuts = scored.groupBy("lang")
      .agg(percentile_approx(col("quality"), array(ps: _*), lit(1000000))
        .as("cuts"))
    scored.join(broadcast(cuts), "lang")
      .withColumn("decile",
        (lit(1) + size(filter(col("cuts"), c => c < col("quality"))))
          .cast("long"))
      .groupBy("lang", "decile")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("tokens"),
        min("quality").as("min_quality"),
        max("quality").as("max_quality"))
      .orderBy("lang", "decile")
  }

  /** DECONTAMINATION (q51): flag held-out documents sharing ≥ 10 distinct
    * 3-gram shingles with the training split — the train/test-overlap
    * audit every evaluation pipeline runs before trusting a benchmark
    * number. Reuses the SAME persisted shingle-hash table as the dedup
    * family (one corpus pass feeds dedup, manifest and decontamination),
    * then: distinct train-side shingle hashes (56-bit fixed width — at
    * 100 TB this is the shuffle key, never the text), a shingle-hash
    * equi-join from the test side, and a per-document overlap count. The
    * candidate volume is bounded by actual shingle matches — never
    * |test| × |train|. */
  def q51Decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    decontaminate(docs, col("source") === "src19", 10).orderBy("doc_id")
  }

  /** The reusable operator behind q51: flag documents on the HELD-OUT side
    * of `heldOut` (any boolean predicate over the corpus columns — a
    * source label, a date range, an id list membership) sharing at least
    * `minShared` distinct shingle hashes with the training side. The
    * split predicate is evaluated per row on the corpus, so train/test
    * membership never leaves the scan. */
  def decontaminate(docs: DataFrame, heldOut: Column, minShared: Int): DataFrame =
    decontaminateSh(
      shingledHashed(docs)
        .join(docs.select(col("doc_id"), heldOut.as("held_out")), "doc_id"),
      minShared)

  /** [[decontaminate]] restricted to an id manifest: the SESSION-SHARED
    * full-corpus shingle table ([[shingledHashed]]), semi-joined to
    * `ids` — per-doc tokenize/shingle are content-pure, so this is
    * row-for-row the shingle table of the restricted frame without
    * re-shingling (and re-persisting) the subset per call. The funnel's
    * decontamination stage rides this (r20: q160 previously re-tokenized
    * and re-shingled the ~whole corpus per RUN because its stage frames
    * are fresh checkpoint-rooted plans that can never cache-hit). */
  private def decontaminateWithin(docs: DataFrame, ids: DataFrame,
                                  heldOut: Column, minShared: Int): DataFrame =
    decontaminateSh(
      shingledHashed(docs)
        .join(ids, Seq("doc_id"), "left_semi")
        .join(docs.select(col("doc_id"), heldOut.as("held_out")), "doc_id"),
      minShared)

  /** The shared verdict tail: held-out docs sharing ≥ `minShared`
    * distinct shingle hashes with the train side of `sh`
    * (doc_id, hs, held_out). */
  private def decontaminateSh(sh: DataFrame, minShared: Int): DataFrame = {
    val trainShingles = sh.filter(!col("held_out"))
      .select(explode(col("hs")).as("h")).distinct()
    val testShingles = sh.filter(col("held_out"))
      .select(col("doc_id"), explode(col("hs")).as("h"))
    testShingles.join(trainShingles, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** INCREMENTAL (DELTA) DEDUP + DECONTAMINATION (q74): audit a NEW shard
    * against the EXISTING corpus only — the production posture of the
    * whole dedup family. q20/q25/q41/q51 recompute corpus-vs-corpus from
    * scratch; a daily ingest instead asks "which of today's documents are
    * exact dups, near-dups, or contaminated w.r.t. what we already
    * hold?", at cost proportional to the SHARD, never the corpus
    * squared.
    *
    * Shape (the 100 TB lens): every corpus-facing pass is a scan of a
    * persisted-store relation — content hashes, band keys, distinct
    * shingle hashes; here the session-shared caches stand in for the
    * store a production pipeline materializes once — joined against a
    * BROADCAST delta-derived set, so the corpus is never shuffled
    * against itself and every intermediate is bounded by the shard's
    * actual collisions:
    *   - exact: corpus content hashes left-semi vs the broadcast delta
    *     hash set → matched hashes (≤ |delta| rows), broadcast back onto
    *     the delta;
    *   - near-dup: corpus band keys equi-joined to broadcast delta bands
    *     → (delta, corpus) candidates, verified by exact Jaccard ≥ t
    *     with each store side broadcast-pruned to candidates first;
    *   - contamination: the corpus' distinct shingle-hash store joined
    *     to the broadcast exploded delta shingles, counted per delta doc
    *     ([[decontaminate]]'s semantics with delta as the held-out side).
    * The registered shard is doc_id % 10 == 7 (a tenth of the corpus);
    * any predicate over the corpus columns works — same contract as
    * [[decontaminate]]. */
  def q74IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    incrementalDedup(Tables(spark, dir, "documents"),
      col("doc_id") % 10 === 7, 0.7, 10)
  }

  /** The reusable operator behind q74: one row per delta document —
    * (doc_id, exact_dup, near_dup, shared_shingles, keep), keep meaning
    * "no exact dup, no verified near-dup, fewer than minShared shingles
    * shared with the corpus". Jaccard and the shared-shingle count use
    * the UNROUNDED values (the q66 lesson: rounding before a threshold
    * cut silently voids the recall argument in the boundary band).
    * Takes any (doc_id, text, …) frame and reads its session shingle
    * table. */
  def incrementalDedup(docs: DataFrame, isDelta: Column,
                       jaccardT: Double, minShared: Int): DataFrame = {
    val member = docs.select(col("doc_id"),
      md5(lower(trim(col("text")))).as("text_hash"), isDelta.as("is_delta"))
    val delta = member.filter(col("is_delta"))
    val corpus = member.filter(!col("is_delta"))

    // Exact: which delta content hashes exist in the corpus store. The
    // store side is scanned map-only (left-semi against the broadcast
    // delta set); the surviving hash set is ≤ |delta| and broadcast back.
    val matchedHash = corpus.select("text_hash")
      .join(broadcast(delta.select("text_hash").distinct()),
        Seq("text_hash"), "left_semi")
      .distinct()
    val exactFlag = delta.select("doc_id", "text_hash")
      .join(broadcast(matchedHash.withColumn("x", lit(true))),
        Seq("text_hash"), "left")
      .select(col("doc_id"), coalesce(col("x"), lit(false)).as("exact_dup"))

    // Split the shared shingle store by the membership predicate (one
    // doc_id-keyed join, same pattern as decontaminate).
    val wh = shingledHashed(docs)
      .join(member.select("doc_id", "is_delta"), "doc_id")
    val deltaHs = wh.filter(col("is_delta"))
    val corpusHs = wh.filter(!col("is_delta"))

    // Near-dup: corpus bands scanned map-only against broadcast delta
    // bands; candidates are (delta, corpus) pairs bounded by real band
    // collisions. Verification broadcast-prunes each store side to the
    // candidate set, re-attaching the sorted hash arrays, and cuts the
    // UNROUNDED graft_overlap Jaccard (q25's hash-equals-string argument).
    val cand = bandsOf(corpusHs).withColumnRenamed("doc_id", "doc_b")
      .join(broadcast(bandsOf(deltaHs).withColumnRenamed("doc_id", "doc_a")),
        "band_key")
      .select("doc_a", "doc_b").distinct()
    val candB = corpusHs.select(col("doc_id").as("doc_b"), col("hs").as("hb"))
      .join(broadcast(cand), "doc_b")
    val nearDup = withOverlapUnion(
      deltaHs.select(col("doc_id").as("doc_a"), col("hs").as("ha"))
        .join(broadcast(candB), "doc_a"))
      .filter(col("ov").cast("double") / col("uni") >= jaccardT)
      .select(col("doc_a").as("doc_id")).distinct()

    // Contamination: the corpus' distinct shingle-hash store (fixed-width
    // longs — the one corpus-wide shuffle, and it builds the store a
    // production run persists) joined to broadcast delta shingles.
    val sharedShingles = corpusHs.select(explode(col("hs")).as("h")).distinct()
      .join(broadcast(deltaHs.select(col("doc_id"), explode(col("hs")).as("h"))),
        "h")
      .groupBy("doc_id").agg(count(lit(1)).as("shared_shingles"))

    delta.select("doc_id")
      .join(exactFlag, "doc_id")
      .join(nearDup.withColumn("nd", lit(true)), Seq("doc_id"), "left")
      .join(sharedShingles, Seq("doc_id"), "left")
      .select(col("doc_id"), col("exact_dup"),
        coalesce(col("nd"), lit(false)).as("near_dup"),
        coalesce(col("shared_shingles"), lit(0L)).as("shared_shingles"))
      .withColumn("keep",
        !col("exact_dup") && !col("near_dup") &&
          col("shared_shingles") < minShared)
      .orderBy("doc_id")
  }

  /** TEXT NORMALIZATION + PII SCRUB (q75): the standard cleaning pass
    * between quality gating (q22) and packing (q50) — Unicode NFC
    * normalization (the [[graft.functions.NfcNormalize]] codegen
    * expression; decomposed accents and compatibility forms otherwise
    * break byte-level dedup), control-character strip, and email/phone
    * redaction — ALL pure column expressions, zero UDFs, map-only until
    * the final sort (no shuffle at any corpus size).
    *
    * The fixture text is clean ASCII, which would make every transform
    * vacuously green — so the query first injects deterministic dirt
    * derived from each row (a BEL control char, a per-doc email and
    * phone, a DECOMPOSED accent), and the oracle builds the identical
    * string with chr(); both engines then scrub the same real work. The
    * emitted lengths prove each stage fired (len_raw > len_nfc: the
    * combining accent composed; len_clean: redaction tokens applied) and
    * clean_hash value-checks the final string byte-for-byte. */
  def q75TextScrub(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.TextExpressions.register(spark)
    val docs = Tables(spark, dir, "documents")
    // The injected dirt, built with unicode escapes so nothing non-ASCII
    // sits in the source: a BEL control char (\\u0007, removed by the
    // strip stage) and the DECOMPOSED accent "e" + COMBINING ACUTE
    // (\\u0301) - NFC composes it to one code point, so
    // len_nfc = len_raw - 1 proves the normalizer ran.
    val dirty = concat(
      col("text"), lit("\u0007 contact user"), col("doc_id").cast("string"),
      lit("@example.com or call +1 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" cafe\u0301 today"))
    val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val phoneRe = "\\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"
    val nfc = call_function("graft_nfc", dirty)
    val stripped = regexp_replace(nfc, "[\\x00-\\x1f\\x7f]", "")
    val redacted = regexp_replace(
      regexp_replace(stripped, emailRe, "<EMAIL>"), phoneRe, "<PHONE>")
    docs.select(
      col("doc_id"),
      length(dirty).cast("long").as("len_raw"),
      length(nfc).cast("long").as("len_nfc"),
      regexp_count(stripped, lit(emailRe)).cast("long").as("n_emails"),
      regexp_count(stripped, lit(phoneRe)).cast("long").as("n_phones"),
      length(redacted).cast("long").as("len_clean"),
      md5(redacted).as("clean_hash"))
      .orderBy("doc_id")
  }

  /** DOCUMENT CHUNKING (q77): split every document into fixed-budget
    * overlapping token windows — the prep step every embedding /
    * long-context training pipeline runs (chunk size 64, stride 48, so
    * consecutive chunks share a 16-token overlap). Pure per-row HOFs:
    * explode a `sequence` of chunk indices, `slice` the shared token
    * array — MAP-ONLY until the final sort, no shuffle at any corpus
    * size, and the output is the long-thin (doc, chunk) shape downstream
    * embedding jobs consume (same layout argument as q63's audio
    * frames). Chunk k covers tokens [k·48+1, k·48+64]; the tail chunk is
    * short rather than dropped (a dropped tail loses text; a short tail
    * just embeds less), and k ranges to ⌊(n−1)/48⌋ so every token lands
    * in ≥ 1 chunk. chunk_hash (md5 of the space-joined chunk) is the
    * downstream join/dedup key and the cross-engine value check. */
  def q77DocChunks(spark: SparkSession, dir: String): DataFrame = {
    val C = 64
    val S = 48
    val n = size(col("toks"))
    tokenizedDocs(Tables(spark, dir, "documents"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0), floor((n - 1) / S).cast("int"))).as("chunk_id"))
      .select(
        col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        slice(col("toks"), col("chunk_id") * S + 1, lit(C)).as("chunk"))
      .select(col("doc_id"), col("chunk_id"),
        size(col("chunk")).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_hash"))
      .orderBy("doc_id", "chunk_id")
  }

  /** VOCABULARY COVERAGE (q78): the Zipf audit behind tokenizer and
    * stopword decisions — the top-200 tokens by corpus frequency with
    * each token's cumulative share of all token occurrences. Shape: one
    * word-count shuffle (map-side partial combine, fixed-width-ish token
    * keys), a scalar total broadcast back, a top-k sort bounded at 200
    * rows, and a running-total window over those 200 rows ONLY — the
    * unpartitioned window is bounded by k, never the vocabulary, so the
    * single-task sort the plan shows is a 200-row sort at any corpus
    * size. Total order (count desc, token asc) makes the limit boundary
    * engine-deterministic; the running sum is over exact integers, so
    * the 6-rounded share divides two exact values — no float
    * order-sensitivity anywhere. */
  def q78VocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tok = tokenizedDocs(Tables(spark, dir, "documents"))
    val counts = tok
      .select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    // Total occurrences as a map-only scalar over the tokenized corpus
    // (Σ size(toks) ≡ Σ cnt) — summing the counts frame instead would
    // re-run the word-count SHUFFLE a second time just to fold it.
    val total = tok.agg(sum(size(col("toks"))).cast("long").as("total"))
    val w = Window.orderBy(desc("cnt"), asc("tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    counts
      .orderBy(desc("cnt"), asc("tok")).limit(200)
      .crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("cnt"), asc("tok"))).cast("long"))
      .withColumn("cum_share",
        round(sum("cnt").over(w).cast("double") / col("total"), 6))
      .select(col("rank"), col("tok"), col("cnt"), col("cum_share"))
      .orderBy("rank")
  }

  /** DEDUP CLUSTER ASSIGNMENT (q79): connected components over the
    * verified near-dup PAIR graph — the step that turns q25's pairs into
    * the cluster → canonical-survivor mapping a production dedup actually
    * applies. Pairwise loser policies (q41's "larger doc_id loses") are
    * correct per pair but blind to transitivity: in a chain A–B–C the
    * pair policy can evict B twice and keep both A and C, which are only
    * transitively — not directly — duplicates. The component view makes
    * the policy explicit: one canonical survivor (the component's min
    * doc_id) per TRANSITIVE duplicate group.
    *
    * Algorithm: distributed min-label propagation with PATH HALVING over
    * the pair graph. Each round (a) every node takes the min label among
    * itself and its neighbors — one equi-join of the edge list against
    * the label table plus a partial-aggregated min — then (b) label ←
    * label(label), a node-table self-join that doubles how far a min has
    * already travelled. Halving makes convergence O(log d) rounds on
    * diameter-d components instead of O(d) (near-dup components are
    * band-connected and shallow in practice; pathological chains are
    * what the halving step is for). Everything iterated is the
    * NODE-SIZED label table — nodes are docs appearing in ≥ 1 verified
    * pair, measured linear in corpus size (SCALE.md) — never the corpus;
    * each round is cut so the plan stays flat across iterations (with
    * `spark.checkpoint.dir` set, the cuts are reliable checkpoints and a
    * lost executor cannot orphan round state). Convergence is an exact
    * changed-label count: one action per round over the node table,
    * never a corpus-scan action.
    *
    * The pairs are q25's, read off the session shingle table; q79 never
    * builds the tokenized corpus.
    *
    * The oracle recomputes components with a structurally different
    * algorithm — DuckDB's recursive-CTE transitive closure — so a hash
    * match certifies the component assignment itself, not a shared
    * implementation. */
  def q79DedupClusters(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(
      minhashNeardup(Tables(spark, dir, "documents"), 0.7)
        .select("doc_a", "doc_b"))
      .orderBy("cluster_id", "doc_id")

  /** The reusable operator behind q79: any (doc_a, doc_b) pair frame →
    * (doc_id, cluster_id, cluster_size, is_canonical), one row per node
    * of the pair graph. See [[q79DedupClusters]] for the algorithm and
    * its scale argument. */
  def dedupClusters(pairs: DataFrame): DataFrame =
    dedupClustersWithRounds(pairs)._1

  /** [[dedupClusters]] plus the number of propagation rounds it took to
    * converge — the quantity ScaleShapeSpec pins (path halving holds it
    * constant while the pair graph grows linearly). */
  private[graft] def dedupClustersWithRounds(
      pairs: DataFrame): (DataFrame, Int) = {
    // The pair subtree materializes ONCE before the bidirectional union:
    // without this cut, building the persisted edge relation evaluates
    // the caller's pair plan under BOTH union arms — for every consumer
    // the pair graph is the expensive part (banded candidates + verify),
    // so the old shape paid it twice (r19 optimization, measured 2×
    // on the q79/q129 builds; guide §1.2 "don't compute things twice").
    val pairCut = cut("cc.pairs", pairs.select(col("doc_a"), col("doc_b")),
      eager = true)
    val edges = pairCut
      .select(col("doc_a").as("id"), col("doc_b").as("nbr"))
      .union(pairCut.select(col("doc_b").as("id"), col("doc_a").as("nbr")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Round 1 fused into initialization (r20): before the first
    // propagation the label table is the IDENTITY over the node set, so
    // round 1's edge⋈labels min-label join is min(nbr) per id directly
    // off the edge relation, and the old init artifact (distinct node
    // set + identity labels, its own eager cut) is subsumed — one edge
    // groupBy replaces an edge-sized join, a node distinct, and one
    // lineage-cut job, for every CC consumer (guide §2.4). The label
    // table after round 1 is integer-identical (old = id because the
    // previous label WAS the id), so rounds, counts and the final
    // assignment are unchanged (DedupClustersSpec + the recursive-CTE
    // oracles certify).
    var labels: DataFrame = null
    var changed = 1L
    var rounds = 0
    val maxRounds = 40
    while (changed > 0 && rounds < maxRounds) {
      // `spread` is consumed twice by the halving self-join; cutting it
      // first runs the edge-sized min-label join ONCE per round instead
      // of once per join side (the two subtrees canonicalize differently,
      // so ReuseExchange never dedups them — r19 optimization, guide
      // §2.4). The previous label rides along as `old` so the
      // convergence count below is a map-only filter over the
      // checkpointed round result, not another node join.
      val spread = cut("cc.round.spread",
        if (rounds == 0)
          edges.groupBy("id").agg(min("nbr").as("nmin"))
            .select(col("id"), col("id").as("old"),
              least(col("id"), col("nmin")).as("label"))
        else {
          val nbrMin = edges
            .join(labels.select(col("id").as("nbr"), col("label").as("nlab")),
              "nbr")
            .groupBy("id").agg(min("nlab").as("nmin"))
          labels.join(nbrMin, Seq("id"), "left")
            .select(col("id"), col("label").as("old"),
              least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
        }, eager = true)
      val halved = cut("cc.round.halved", spread
        .join(spread.select(col("id").as("label"), col("label").as("ll")).as("y"),
          Seq("label"), "left")
        .select(col("id"), col("old"), coalesce(col("ll"), col("label")).as("label")),
        eager = true)
      changed = halved.filter(col("label") =!= col("old")).count()
      labels = halved.select("id", "label")
      rounds += 1
    }
    // Path halving converges in O(log diameter) rounds; 40 covers any
    // graph whose diameter fits in a long. Hitting the cap with labels
    // still moving means the assignment is WRONG for some component —
    // that must be an error, never a silent return.
    if (changed > 0)
      throw new IllegalStateException(
        s"dedupClusters did not converge after $maxRounds rounds " +
          s"($changed labels still changing); refusing to return a " +
          "partial cluster assignment")
    edges.unpersist()
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cluster_id")
    val out = labels
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .withColumn("cluster_size", count(lit(1)).over(w).cast("long"))
      .withColumn("is_canonical", col("doc_id") === col("cluster_id"))
    (out, rounds)
  }

  /** TF-IDF KEYWORD EXTRACTION (q80): the top-5 most characteristic
    * terms per document — the classic relevance surface behind search
    * snippets, topic tagging, and per-document metadata in a curation
    * run. idf is the LN-FREE rational variant n_docs/df: `ln` is not
    * bit-specified across engines (the one-ulp divergence would flip
    * rank boundaries and hashes), while a division of exactly
    * representable integers is correctly rounded IEEE in both engines —
    * so score = tf · n_docs / df is cross-engine bit-identical and ranks
    * identically to log-scaled tf-idf at fixed tf (monotone transform).
    *
    * Scale shape: tf is explode + groupBy(doc_id, term) — the partial
    * aggregate combines in-map, and docs are partition-local, so the
    * shuffle carries ~distinct per-doc terms, not token occurrences.
    * (An in-row sorted-run-length variant was tried and measured 12.4 s
    * at sf0.1 vs this plan's sub-second: index-lambda HOFs re-evaluate
    * outer expressions PER ELEMENT, so the inlined array_sort ran once
    * per index — the q25 O(n²) lambda trap, worth restating because the
    * "avoid the shuffle" instinct walks straight into it.) df comes
    * from an `array_distinct` explode of the cached tokenized corpus —
    * NOT from tf: aggregating over the tf frame would plan the tf
    * subtree twice, once under each consumer (PlanPinsSpec pins both
    * defects). The score join is term-keyed on the vocabulary-sized df
    * relation; the top-5 cut is a row_number window partitioned by
    * doc_id over per-doc vocab-bounded groups. Tie-break (score desc,
    * term asc) is a total order, so the rank-5 boundary is
    * engine-deterministic. */
  def q80TfidfKeywords(spark: SparkSession, dir: String): DataFrame =
    tfidfKeywordsToks(
      tokenizedDocs(Tables(spark, dir, "documents")), 5)
      .orderBy("doc_id", "rank")

  /** The reusable operator behind q80: any (doc_id, text) frame → the
    * top-k rational-idf keywords per document. */
  def tfidfKeywords(docs: DataFrame, k: Int): DataFrame =
    tfidfKeywordsToks(
      docs.select(col("doc_id"), toks(col("text")).as("toks")), k)

  private def tfidfKeywordsToks(tokDf: DataFrame, k: Int): DataFrame = {
    val tf = tokDf.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfTbl = tokDf
      .select(explode(array_distinct(col("toks"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = tokDf.agg(count(lit(1)).cast("long").as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("score"), asc("term"))
    tf.join(dfTbl, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"),
        col("df"), col("score"))
  }

  /** The fixed query set behind q81 — literal (query_id, terms) pairs, the
    * lexical analogue of q27's fixed query vectors. */
  private[graft] val bm25QuerySet: Seq[(Long, Seq[String])] = Seq(
    1L -> Seq("spark", "join", "fast"),
    2L -> Seq("agg", "stream", "window"),
    3L -> Seq("customer", "query"))

  /** BM25 LEXICAL SEARCH (q81): top-10 documents per query under
    * Okapi BM25 (k1 = 1.2, b = 0.75) — the lexical retrieval path next to
    * the embedding family's vector one (q27/q28/q46): a curation run uses
    * BOTH (keyword audits, targeted subset pulls, hybrid retrieval).
    *
    * Cross-engine determinism, the two usual traps closed:
    *   - idf is the LN-FREE rational Robertson form
    *     (n_docs - df + 0.5)/(df + 0.5) — `ln` is not bit-specified across
    *     engines (q80's argument); every operand here is an exactly
    *     representable integer-or-half, so the single division is the same
    *     correctly-rounded IEEE op in both engines. Each per-term weight
    *     is a monotone transform of its log-idf counterpart; the
    *     multi-term SUM therefore defines this variant's own ranking
    *     (sums of monotone transforms need not order like the log-sum) —
    *     the trade accepted for a cross-engine bit-checkable score.
    *   - the per-document score SUMS floats across matched terms, and float
    *     addition is order-sensitive — so the engine folds the per-term
    *     weights in SORTED TERM ORDER (sort_array of (term, w) structs +
    *     a sequential `aggregate` fold) and the oracle states the identical
    *     fold as `list_reduce(list(w ORDER BY term), +)`; DuckDB's
    *     list_reduce is a strict left fold, and Spark's 0.0 seed is exact
    *     (0.0 + x == x for the positive weights here), so the sums are
    *     bit-identical, not just close.
    *
    * Scale shape: the query vocabulary is tiny and literal, so the `isin`
    * prune reaches the cached-corpus scan BEFORE the explode shuffles
    * anything — tf carries only (doc, query-term) postings, never the
    * corpus vocabulary; df and doc-length join sides are broadcast. The
    * rank window partitions by query over candidate docs (the postings
    * union), which is the exact-scoring posture every lexical engine
    * starts from; at 100 TB the documented refinement is impact-ordered
    * postings with a WAND/max-score cut — an upper-bound prune that never
    * changes the top-k, composing with this plan rather than replacing
    * it. */
  def q81Bm25Search(spark: SparkSession, dir: String): DataFrame =
    bm25Search(tokenizedDocs(Tables(spark, dir, "documents")),
      bm25QuerySet, 10)
      .orderBy("query_id", "rank")

  /** The reusable operator behind q81: a tokenized corpus
    * (doc_id, toks) + literal (query_id, terms) pairs → top-k docs per
    * query with BM25 scores. */
  private[graft] def bm25Search(tokDf: DataFrame,
      queries: Seq[(Long, Seq[String])], k: Int): DataFrame = {
    val spark = tokDf.sparkSession
    import spark.implicits._
    val vocab = queries.flatMap(_._2).distinct
    val qTerms = queries
      .flatMap { case (qid, ts) => ts.map(t => (qid, t)) }
      .toDF("query_id", "term")
    // Exact long sums -> one double division; avgdl is bit-identical
    // under any partitioning (q21's integer-mean argument).
    val stats = tokDf
      .select(size(col("toks")).cast("long").as("dl"))
      .agg(sum(col("dl")).as("sum_dl"),
        count(lit(1)).cast("long").as("n_docs"))
    // dl rides the explode as a grouping key (functionally dependent on
    // doc_id) — no separate doc-length relation, no doc_id-keyed join:
    // the only corpus-scale exchange carries pruned postings.
    val tf = tokDf.select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .filter(col("term").isin(vocab: _*))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).cast("long").as("tf"))
    val dfTbl = tokDf
      .select(explode(array_distinct(col("toks"))).as("term"))
      .filter(col("term").isin(vocab: _*))
      .groupBy("term").agg(count(lit(1)).cast("long").as("df"))
    bm25FoldRank(
      bm25Weighted(tf, dfTbl, stats).join(broadcast(qTerms), "term"), k)
  }

  /** Per-(doc, term) BM25 weight from the tf/df/corpus-stats relations —
    * shared by the literal-query (q81) and derived-query (q84 lexical
    * arm) paths so the formula is stated exactly once. */
  private def bm25Weighted(tf: DataFrame, dfTbl: DataFrame,
      stats: DataFrame): DataFrame =
    tf.join(broadcast(dfTbl), "term")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)))
      .withColumn("w",
        col("idf") * (col("tf").cast("double") * lit(2.2) /
          (col("tf").cast("double") + lit(1.2) *
            (lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl"))))))

  /** Sorted-term sequential score fold + per-query rank cut (the
    * deterministic-sum machinery documented on [[q81Bm25Search]]). */
  private def bm25FoldRank(perQueryTerm: DataFrame, k: Int): DataFrame = {
    val byQuery = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(desc("score"), asc("doc_id"))
    perQueryTerm
      .groupBy("query_id", "doc_id")
      .agg(
        sort_array(collect_list(struct(col("term"), col("w")))).as("tw"),
        count(lit(1)).cast("long").as("matched_terms"))
      .withColumn("score",
        aggregate(col("tw"), lit(0.0), (acc, x) => acc + x.getField("w")))
      .withColumn("rank", row_number().over(byQuery).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("matched_terms"), col("score"))
  }

  /** MORE-LIKE-THIS lexical ranking (q84's lexical arm): each query is a
    * DOCUMENT (doc_id < `queryMaxId`), its lexical form the top-`nKw`
    * rational-idf keywords of that document (q80's scoring restricted to
    * the query docs' own terms — df is computed only for the candidate
    * term set, never the vocabulary). BM25 then ranks the corpus against
    * those keyword queries exactly as q81 does, with the query doc
    * itself excluded. The prune is a broadcast left-semi join against
    * the derived term set (the terms are data now, not literals — q81's
    * codegen'd `isin` becomes a tiny hashed-relation probe, same
    * postings-only shuffle). */
  private[graft] def bm25MoreLikeThis(spark: SparkSession, dir: String,
      queryMaxId: Long, nKw: Int, k: Int): DataFrame = {
    val tokDf = tokenizedDocs(Tables(spark, dir, "documents"))
    // Keyword extraction for the query docs only: tf over ≤ queryMaxId
    // docs (tiny), df over the corpus pruned to their candidate terms.
    // The derived-term artifacts below (per-query tf, candidate-term df,
    // keyword set) are each consumed by SEVERAL downstream subtrees
    // (qTerms feeds kwTerms AND the fusion join; dfq feeds qTerms AND
    // dfTbl; kwTerms prunes BOTH corpus-side explodes). Left uncut, every
    // reference re-expanded the whole keyword-extraction tree — the
    // registered q84 plan carried 52 corpus-memo scans / 160 Exchanges.
    // All are ≤ #candidate-term-row tables: a lazy lineage cut each
    // materializes them once (r20, guide §1.2/§2.4).
    val tfq = cut("bm25MoreLikeThis.tfq",
      tokDf.filter(col("doc_id") < queryMaxId)
        .select(col("doc_id"), explode(col("toks")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).cast("long").as("tf")))
    val candTerms = tfq.select("term").distinct()
    val dfq = cut("bm25MoreLikeThis.dfq", tokDf
      .select(explode(array_distinct(col("toks"))).as("term"))
      .join(broadcast(candTerms), Seq("term"), "left_semi")
      .groupBy("term").agg(count(lit(1)).cast("long").as("df")))
    val nDocs = tokDf.agg(count(lit(1)).cast("long").as("n_docs"))
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(desc("kw_score"), asc("term"))
    val qTerms = cut("bm25MoreLikeThis.qTerms", tfq.join(broadcast(dfq), "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("kw_score",
        (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("kw_rank", row_number().over(byDoc))
      .filter(col("kw_rank") <= nKw)
      .select(col("doc_id").as("query_id"), col("term")))
    val kwTerms = cut("bm25MoreLikeThis.kwTerms",
      qTerms.select("term").distinct())
    // Corpus-side BM25 over the keyword vocabulary — q81's plan with the
    // semi-join prune in place of the literal isin.
    val stats = tokDf
      .select(size(col("toks")).cast("long").as("dl"))
      .agg(sum(col("dl")).as("sum_dl"),
        count(lit(1)).cast("long").as("n_docs"))
    val tf = tokDf.select(col("doc_id"),
        size(col("toks")).cast("long").as("dl"),
        explode(col("toks")).as("term"))
      .join(broadcast(kwTerms), Seq("term"), "left_semi")
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).cast("long").as("tf"))
    // df for the keyword terms is a subset of the candidate-term df
    // already computed — no second corpus explode.
    val dfTbl = dfq.join(broadcast(kwTerms), Seq("term"), "left_semi")
    bm25FoldRank(
      bm25Weighted(tf, dfTbl, stats)
        .join(broadcast(qTerms), "term")
        .filter(col("doc_id") =!= col("query_id")), k)
  }

  /** The CURATED TRAINING MIX (q52) — the capstone composition the whole
    * doc family exists for, in pipeline order: dedup (q20+q25 loser
    * policies, one anti-join) → deterministic stratified sampling (q49's
    * salted-hash rates) → quality scoring (q22's surface) → token-budget
    * packing per language (q50's window fill). Every stage reuses the
    * shared tokenized/shingle caches and the same operators the
    * standalone queries register, so this is composition, not
    * re-implementation — the shape a real 100 TB curation DAG has: one
    * corpus pass for signals, fixed-width-key joins for policy, one
    * stratum-keyed shuffle to pack. */
  def q52CuratedMix(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val bucket =
      md5Long(concat(lit("graft-sample|"), col("doc_id").cast("string")), 14) % 100
    val rate = when(col("lang") === "en", 25).otherwise(75)
    val survivors = tokenizedDocs(docs)
      .join(dedupLosers(docs), Seq("doc_id"), "left_anti")
      .filter(bucket < rate)
    packToBudget(scoredDocs(survivors), 2000L)
      .orderBy("lang", "cum_tokens", "doc_id")
  }

  /** SOURCE-CAPPED PACK (q94) — the Common-Crawl domain-cap pattern: no
    * single source may contribute more than a fixed token share of a
    * language's training budget, however high its documents score. Two
    * invocations of the SAME pack operator:
    *
    *   1. cap: [[packToBudget]] per `(lang, source)` stratum at the
    *      per-source cap (150 tokens — sized to BIND on the test corpus,
    *      where no source packs more than ~280 of q50's 2000-token
    *      budget uncapped) — "pack to the cap" IS the cap;
    *   2. fill: [[packToBudget]] per `lang` at the full budget over the
    *      cap survivors — the greedy quality fill now skips over
    *      cap-evicted docs to the next-best source.
    *
    * Scale shape: stage 1's window partitions by (lang, source) — FINER
    * than q50's per-language partitioning, so the cap stage is more
    * parallel, not less; stage 2's window input is cap-bounded (≤ cap
    * tokens per source, i.e. ≤ #sources × cap per language) before the
    * histogram prune even applies. Both stages keep the exact-prune
    * histogram prefilter, so no corpus-sized stratum ever funnels through
    * one task. Output carries both running totals (cum_src_tokens,
    * cum_tokens) as the mix audit trail. */
  def q94SourceCappedPack(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocs(
      tokenizedDocs(Tables(spark, dir, "documents")), Seq("source"))
    val capped = packToBudget(scored, 150L, Seq("lang", "source"))
      .withColumnRenamed("cum_tokens", "cum_src_tokens")
    packToBudget(capped, 2000L)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("quality"), col("cum_src_tokens"), col("cum_tokens"))
      .orderBy("lang", "cum_tokens", "doc_id")
  }

  /** The end-to-end dedup pipeline product: the corpus with exact
    * duplicates (q20 policy: keep min doc_id per content hash) AND
    * near-duplicates (q25 policy: in each verified pair, the larger doc_id
    * loses) removed via anti-joins — what a training-data run actually
    * materializes. Union of two loser sets, then one left-anti join
    * against the corpus; everything shuffles on doc_id / fixed-width
    * hashes only. */
  def q41DocsDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    docs
      .join(dedupLosers(docs), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** The doc_ids the dedup policies remove: exact losers (q20 policy —
    * every doc except the min doc_id per content hash) plus near-dup
    * losers (q25 policy — the larger doc_id of each verified pair).
    *
    * The near-dup half reads the same session shingle table as q25/q79.
    *
    * Persisted like the tokenized/shingle tables (and released by the
    * same [[graft.Artifacts.clear]]): three consumers (q41 corpus, q47
    * manifest, q52 mix) anti-join against this set, and without the cache
    * each re-runs the band join + Jaccard verify. A few doc_ids per
    * thousand documents — the cheapest relation in the family to keep and
    * the most expensive to recompute. At cluster scale this is the
    * "losers manifest" a curation DAG writes once and every downstream
    * stage anti-joins against. */
  private def dedupLosers(docs: DataFrame): DataFrame =
    memoShared(docs, "losers") {
      val exactLosers = docs
        .select(md5(lower(trim(col("text")))).as("text_hash"), col("doc_id"))
        .withColumn("keep", min("doc_id").over(
          org.apache.spark.sql.expressions.Window.partitionBy("text_hash")))
        .filter(col("doc_id") =!= col("keep"))
        .select("doc_id")
      val nearLosers = minhashNeardup(docs, 0.7)
        .select(col("doc_b").as("doc_id"))
      exactLosers.union(nearLosers).distinct()
    }

  /** The materialized TRAINING-DATA MANIFEST — what a curation run
    * actually ships downstream: the dedup-surviving corpus (q41's exact +
    * near-dup policies) annotated per document with the curation signals
    * of the q21–q24 family — token budget, quality score + band,
    * predicted language, content fingerprint. Composition, not
    * recomputation: the loser set reuses the same persisted shingle table
    * as q25/q41 (cache-manager-deduped), annotations are one narrow pass
    * over the corpus, and the final step is a single doc_id anti-join. */
  def q47CorpusManifest(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // Anti-join FIRST: losers leave before the expensive per-doc
    // annotations (fingerprint aggregate, distinct-TTR, stop-ratio
    // filter) run, so the heavy pass touches survivors only — at a real
    // 30-50% web-corpus dup rate that's ~2x less annotation work than
    // annotate-then-discard. The survivors still read the shared
    // tokenized cache, so tokenization itself isn't repeated either.
    val survivors = tokenizedDocs(docs)
      .join(dedupLosers(docs), Seq("doc_id"), "left_anti")
    val t = col("toks")
    val ratio = size(filter(t, x => x === "the" || x === "a")).cast("double") / size(t)
    val base = survivors.select(
      col("doc_id"), col("lang"),
      size(t).as("n_tokens"),
      ratio.as("stop_ratio"),
      (size(array_distinct(t)).cast("double") / size(t)).as("ttr"),
      when(ratio >= 0.02, "en").otherwise("und").as("predicted_lang"),
      aggregate(t, lit(0L), (h, x) => (h * 31L + md5Long(x, 8)) % 1000000007L)
        .as("fingerprint"))
    val quality = round(
      lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
        lit(0.3) * least(col("n_tokens").cast("double") / 100.0, lit(1.0)), 6)
    base
      .select(
        col("doc_id"), col("lang"), col("predicted_lang"),
        col("n_tokens").cast("long").as("n_tokens"),
        quality.as("quality"),
        when(quality >= 0.75, "high").when(quality >= 0.5, "medium")
          .otherwise("low").as("quality_band"),
        col("fingerprint"))
      .orderBy("doc_id")
  }

  /** BOILERPLATE N-GRAM DETECTION (q57): every bigram occupying at least
    * 1/1000 of the corpus's bigram slots, with its EXACT count — the
    * template/boilerplate audit a pretraining pipeline runs before dedup
    * (navbars, license headers and scraper artifacts show up as n-grams
    * with corpus-scale frequency).
    *
    * Two-pass sketch-pruned exact plan (the scale story is the point):
    *   1. One narrow pass folds every bigram slot into a Misra–Gries
    *      sketch ([[graft.functions.MisraGriesCandidates]], k=1024) plus a
    *      plain count — a regular partial aggregation, O(k) memory per
    *      task, merge input bounded by partitions × k. With threshold
    *      n/1000 and k ≥ 1000 the sketch's survivors are a guaranteed
    *      SUPERSET of the true heavy hitters (error ≤ n/(k+1) across any
    *      merge tree).
    *   2. The exact count then runs ONLY over slots whose bigram is in
    *      the ≤ k-entry broadcast candidate set — the full-cardinality
    *      groupBy (at 100 TB: billions of distinct n-grams through the
    *      shuffle) never happens; false positives die on the final
    *      threshold filter against the exact counts.
    * Result: exact, oracle-checkable output with the big shuffle keyed on
    * ≤ 1024 distinct values. (The sf fixtures' vocabulary is smaller than
    * k, so eviction never fires here — FreqSketchSpec exercises the
    * eviction and merge guarantees on adversarial skewed data.) */
  def q57BoilerplateNgrams(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.FreqSketch.register(spark)
    val grams = bigramSlots(Tables(spark, dir, "documents"))
    val sketch = grams.agg(
      count(lit(1)).as("n_total"),
      expr("graft_mg_candidates(tok, 1024)").as("cands"))
    val cands = sketch.select(col("n_total"), explode(col("cands")).as("tok"))
    grams.join(broadcast(cands), Seq("tok"))
      .groupBy("tok", "n_total").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") * 1000L >= col("n_total"))
      .select(col("tok"), col("cnt"), col("n_total"))
      .orderBy(desc("cnt"), asc("tok"))
  }

  /** Exploded bigram slots of the tokenized corpus — one row per adjacent
    * token pair, the input relation of both q57 passes. Adjacent-pair
    * slices, not an index lambda — same O(n) HOF reasoning as
    * [[shingles]]. */
  private def bigramSlots(docs: DataFrame): DataFrame = {
    val tk = col("toks")
    val n = size(tk)
    val bigrams = when(n >= 2,
      zip_with(slice(tk, lit(1), n - 1), slice(tk, lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    tokenizedDocs(docs).select(explode(bigrams).as("tok"))
  }

  /** Intra-document repetition signal (q59): per document, the share of
    * bigram slots taken by the single most repeated bigram plus the
    * distinct-bigram count — the Gopher-style repetition filters a
    * pretraining pipeline applies per document (templated/spun pages have
    * a few n-grams at in-document corpus-scale frequency; q57 finds the
    * CORPUS-level boilerplate, this finds the DOCUMENT-level kind).
    *
    * Scale shape: pure narrow per-document computation — tokenize, slice
    * into bigrams, sort the ≤doc-length array, one linear fold for the
    * longest equal-run — with NO shuffle anywhere before the final
    * order-by (PlanPinsSpec pins zero hash exchanges). At 100 TB this is
    * a map-only pass: the per-doc fold state is three fields regardless
    * of document size, and nothing leaves the partition. The fold lambda
    * references only its accumulator and element (the collection is
    * evaluated once), so the HOF stays O(n log n) per doc — the q25
    * index-lambda O(n²) trap documented in [[shingles]] does not apply. */
  def q59DocsRepetition(spark: SparkSession, dir: String): DataFrame = {
    val tk = col("toks")
    val n = size(tk)
    val bigrams = zip_with(slice(tk, lit(1), n - 1), slice(tk, lit(2), n - 1),
      (a, b) => concat(a, lit(" "), b))
    tokenizedDocs(Tables(spark, dir, "documents"))
      .filter(size(col("toks")) >= 2)
      .withColumn("bg", bigrams)
      .select(
        col("doc_id"),
        size(col("bg")).cast("long").as("total_bigrams"),
        size(array_distinct(col("bg"))).cast("long").as("distinct_bigrams"),
        expr(
          """aggregate(array_sort(bg),
            |  named_struct('p', '', 'r', 0L, 'b', 0L),
            |  (a, x) -> named_struct(
            |    'p', x,
            |    'r', IF(x = a.p, a.r + 1L, 1L),
            |    'b', greatest(a.b, IF(x = a.p, a.r + 1L, 1L))),
            |  a -> a.b)""".stripMargin).as("top_bigram_cnt"))
      .withColumn("top_ratio",
        round(col("top_bigram_cnt").cast("double") / col("total_bigrams"), 6))
      .orderBy("doc_id")
  }

  /** EXACT containment join via PREFIX FILTERING (q66) — the asymmetric
    * complement of q25's Jaccard near-dup: flag directed pairs where ≥ 80%
    * of doc_a's shingles also appear in doc_b (doc_a is a near-SUBSET of
    * doc_b: a quoted article, a boilerplate-wrapped repost). Jaccard-based
    * MinHash banding structurally misses these — a small doc inside a big
    * one has high containment but LOW Jaccard, so its band signatures
    * diverge — which is why this uses a different candidate scheme with a
    * recall PROOF instead of a probabilistic one:
    *
    * prefix filter (AllPairs/PPJoin family): under any global total order
    * on shingles, if |A∩B| ≥ ⌈t·|A|⌉ then at least one shared shingle lies
    * among A's smallest |A| − ⌈t·|A|⌉ + 1 shingles (pigeonhole: the
    * elements of A strictly after that prefix number ⌈t·|A|⌉ − 1 < |A∩B|).
    * So exploding only that prefix on the A side and equi-joining against
    * B's full shingle list finds EVERY qualifying pair — exact recall, no
    * LSH false negatives — and the verify join keeps exactly those with
    * true containment ≥ t. The oracle is the brute-force all-shared-pairs
    * restatement, so a hash match certifies the recall claim, not just the
    * arithmetic.
    *
    * Scale shape: the canonical total order is the plain 56-bit HASH —
    * prefix extraction is then MAP-ONLY (array_sort + slice inside the
    * row, no extra shuffle). The AllPairs/PPJoin refinement — ascending
    * corpus-wide DOCUMENT FREQUENCY, ties by hash, so every prefix holds
    * the RAREST shingles and joins against the fewest B-side rows — is
    * available via [[containmentCandidates]]`(dfOrder = true)` but is NOT
    * the default, on measurement (SCALE.md "containment order"): it costs
    * one corpus-wide groupBy (the shingle-DF table), one equi-join, and a
    * per-doc struct re-sort, and on a flat-DF corpus (this fixture's max
    * shingle DF is 25) it cuts candidates only ~1.7× while adding ~30%
    * wall at sf0.1 — the extra shuffle costs more than the cut saves. On
    * a DF-SKEWED corpus (boilerplate shingles shared corpus-wide) the
    * picture inverts: hash-order candidates grow ~quadratically while the
    * DF order stays linear (measured on a 20%-boilerplate amplified
    * corpus, same SCALE.md section) — that is the regime where a caller
    * flips the flag. Recall is unaffected either way: the pigeonhole
    * proof holds under ANY global total order, and both hash and (df,
    * hash) are global total orders. The A side emits ~(1−t)·|A|+1 rows
    * per doc (at t=0.8: ~20% of the shingle table), the B side the
    * shingle table itself; both shuffle on fixed-width longs. A hash
    * collision can only create a spurious candidate (killed by the exact
    * verify), never lose one: equal shingles always hash equal. */
  def q66DocsContainment(spark: SparkSession, dir: String): DataFrame =
    containmentJoin(Tables(spark, dir, "documents"), 0.8)

  /** The prefix-join candidate pairs BEFORE the exact verify — the
    * quantity whose growth decides whether prefix filtering survives a
    * scale-up (≈ linear while prefix shingles stay selective).
    * ScaleShapeSpec pins its count at ×1 and ×4, like
    * [[minhashCandidates]]; q66 consumes it via the verify join.
    * `dfOrder = true` selects the DF-ascending total order (rarest
    * shingles in every prefix — the flag for DF-skewed corpora; see the
    * q66 scaladoc for the measured trade). */
  def containmentCandidates(docs: DataFrame, threshold: Double,
                            dfOrder: Boolean = false): DataFrame =
    prefixCandidates(shingledHashed(docs), threshold, dfOrder)

  private def prefixCandidates(withHs: DataFrame, t: Double,
                               dfOrder: Boolean = false): DataFrame = {
    // |A| − ⌈t·|A|⌉ + 1 smallest shingles under the canonical order: the
    // prefix that must intersect A∩B for any B with containment ≥ t (see
    // scaladoc proof — valid for ANY global total order).
    def prefixLen(sz: Column): Column =
      (sz - ceil(lit(t) * sz) + 1).cast("int")
    val aPrefix =
      if (!dfOrder)
        // hs is stored pre-sorted (shingledHashed), so the hash-order
        // prefix is a plain slice — no per-row sort.
        withHs.select(
          col("doc_id").as("doc_a"),
          explode(slice(col("hs"), lit(1), prefixLen(size(col("hs")))))
            .as("g"))
      else {
        // Canonical order (df ASC, hash ASC): one groupBy builds the
        // corpus-wide shingle-DF table, one join attaches it, and the
        // per-doc regroup sorts (df, g) structs — array_sort on structs
        // is field-lexicographic, exactly the order we want. |ord| =
        // |hs| (shingles are distinct per doc), so the prefix bound is
        // unchanged.
        val ex = withHs.select(col("doc_id"), explode(col("hs")).as("g"))
        val dfTab = ex.groupBy("g").agg(count(lit(1)).as("df"))
        ex.join(dfTab, "g")
          .groupBy("doc_id")
          .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("ord"))
          .select(
            col("doc_id").as("doc_a"),
            explode(transform(
              slice(col("ord"), lit(1), prefixLen(size(col("ord")))),
              x => x.getField("g"))).as("g"))
      }
    val bAll = withHs.select(col("doc_id").as("doc_b"), explode(col("hs")).as("g"))
    aPrefix.join(bAll, Seq("g"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** The reusable operator behind q66: any (doc_id, text, …) frame. */
  def containmentJoin(docs: DataFrame, threshold: Double): DataFrame = {
    val withHs = shingledHashed(docs)
    // Verify on the 56-bit hash arrays, not the shingle strings: the
    // candidate set can far exceed the true pair count (519k candidates
    // vs 512 pairs at sf0.1 under hash order; the DF order cuts this),
    // so per-pair intersect cost dominates the query — long-array
    // intersects are ~3× cheaper than string intersects and the
    // re-attach joins shuffle 8-byte elements instead of ~25-byte
    // shingles. The count itself is `graft_overlap`, a codegen'd
    // two-pointer pass over the PRE-SORTED hs arrays — identical to
    // size(array_intersect) (distinct-common semantics) but with zero
    // per-pair allocation, where array_intersect builds a hash set and
    // an output array per candidate pair (the dominant cost at ×30 in
    // SCALE.md's sf0.1 record). Equal shingles hash equal, so the
    // hash-set containment equals the string-set containment unless two
    // DISTINCT shingles of a pair collide in 56 bits (~2⁻⁵⁶·|A|·|B|); the
    // oracle states the same md5-derived lists (q25/q51's proven
    // bit-compatible construction), so both engines see identical sets.
    //
    // The threshold cut uses the UNROUNDED ratio; round(…,4) is applied
    // only to the output column. Cutting on the rounded value would admit
    // pairs with true ratio in [t−5e-5, t) — pairs the prefix (derived
    // from the unrounded t) is NOT guaranteed to surface once docs exceed
    // ~20k distinct shingles, silently voiding the exact-recall proof in
    // that hairline band. The oracle applies the same unrounded cut.
    graft.functions.VectorExpressions.register(docs.sparkSession)
    prefixCandidates(withHs, threshold)
      .join(withHs.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(withHs.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        (call_function("graft_overlap", col("ha"), col("hb")).cast("double") /
          size(col("ha"))).as("c_raw"))
      .filter(col("c_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("c_raw"), 4).as("containment"))
      .orderBy("doc_a", "doc_b")
  }

  /** q87 — EXACT n-gram Jaccard near-dup join, the guaranteed-recall
    * sibling of q25's MinHash sketch: every pair with 3-gram-shingle
    * Jaccard ≥ t is in the output, by construction rather than by
    * measured band luck.
    *
    * Algorithm (AllPairs prefix filtering, Bayardo et al. WWW'07 — the
    * same machinery as q66, reused): J(A,B) ≥ t ⇒ |A∩B|/|A| ≥ t (the
    * union is at least as big as A), so the containment-join candidate
    * generator — whose pigeonhole proof guarantees every pair with
    * |A∩B|/|A| ≥ t surfaces — is a strict superset of the Jaccard ≥ t
    * pairs. Candidates are then cut by the LENGTH filter (J ≥ t forces
    * t·|A| ≤ |B| ≤ |A|/t — a column compare, no array work) before the
    * `graft_overlap` two-pointer verify computes the exact intersection
    * on the pre-sorted hash arrays; J = ov / (|A|+|B|−ov).
    *
    * The threshold cut uses the UNROUNDED ratio (q66's hairline-band
    * argument applies identically); round(…,4) is output-only. The
    * oracle restates candidates as "pairs sharing ANY shingle" (exact
    * for any t > 0 since J ≥ t ⇒ A∩B ≠ ∅) + the same verify, so a hash
    * match certifies recall of the prefix filter, not just arithmetic.
    *
    * Scale shape: identical to q66 — the A side emits ~(1−t)·|A|+1
    * prefix rows per doc, candidates shuffle as fixed-width longs, and
    * the per-pair verify is allocation-free. At t = 0.5 the prefix is
    * half the shingle table; the length filter then kills the
    * size-mismatched half of candidates before any array is touched. */
  def q87DocsJaccardJoin(spark: SparkSession, dir: String): DataFrame =
    jaccardJoin(Tables(spark, dir, "documents"), 0.5)

  /** The reusable operator behind q87: any (doc_id, text, …) frame. */
  def jaccardJoin(docs: DataFrame, threshold: Double): DataFrame = {
    val withHs = shingledHashed(docs)
    // Containment candidates list every qualifying (A,B) with A's prefix
    // hitting the overlap — for Jaccard both orientations qualify, so
    // canonicalize to doc_a < doc_b before the (expensive) verify joins.
    val cand = prefixCandidates(withHs, threshold)
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .distinct()
    withOverlapUnion(cand
      .join(withHs.select(col("doc_id").as("doc_a"), col("hs").as("ha")), "doc_a")
      .join(withHs.select(col("doc_id").as("doc_b"), col("hs").as("hb")), "doc_b")
      .filter(size(col("hb")).cast("double") >= lit(threshold) * size(col("ha")) &&
        size(col("ha")).cast("double") >= lit(threshold) * size(col("hb"))))
      .filter(col("ov").cast("double") / col("uni") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        col("ov").as("shared_ngrams"), col("uni").as("union_ngrams"),
        round(col("ov").cast("double") / col("uni"), 4).as("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** q88 — PMI COLLOCATIONS: which adjacent word pairs co-occur far more
    * than their unigram frequencies predict — the classic corpus-quality
    * / tokenizer-design signal (a high-lift tail of boilerplate bigrams
    * is a dedup smell; high-lift content bigrams are multi-word terms a
    * BPE vocabulary should keep intact).
    *
    * Emits the RATIONAL lift c(a,b)·N / (c(a)·c(b)) instead of its log
    * (PMI = log2(lift)): log is monotone, so ranking and thresholds are
    * unchanged, while the all-integer ratio rounds identically in any
    * engine — the same bit-safety trick as q80/q81's rational idf.
    *
    * Scale shape: two hash aggregations with map-side combine (bigrams,
    * unigrams — both vocabulary-sized outputs, corpus-sized inputs), the
    * unigram table joined twice onto the bigram table (vocab-sized ⋈
    * vocab-sized; Catalyst broadcasts under threshold), and one scalar
    * token total attached as a broadcast-of-tiny crossJoin. The min-count
    * cut (≥ 5) bounds the output to the frequent-bigram tail. Nothing
    * corpus-sized is ever joined or re-shuffled. */
  def q88PmiCollocations(spark: SparkSession, dir: String): DataFrame =
    pmiCollocationsToks(tokenizedDocs(Tables(spark, dir, "documents")), 5L)

  /** The reusable operator behind q88: any (doc_id, text) frame. */
  def pmiCollocations(docs: DataFrame, minCount: Long): DataFrame =
    pmiCollocationsToks(
      docs.select(col("doc_id"), toks(col("text")).as("toks")), minCount)

  private def pmiCollocationsToks(tok: DataFrame, minCount: Long): DataFrame = {
    val n = size(col("toks"))
    val bigrams = tok
      .select(explode(zip_with(
        slice(col("toks"), lit(1), n - 1), slice(col("toks"), lit(2), n - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("pair_count"))
      .filter(col("pair_count") >= minCount)
    val unigrams = tok
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val total = tok.select(sum(size(col("toks"))).as("n_tokens"))
    bigrams
      .join(unigrams.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(unigrams.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"), col("pair_count"),
        round(col("pair_count").cast("double") * col("n_tokens") /
          (col("c1") * col("c2")), 4).as("lift"))
      .orderBy("w1", "w2")
  }

  /** q90 — SOURCE DRIFT AUDIT: total-variation distance between each
    * source's token distribution and the whole corpus — the curation
    * dashboard number that answers "which shard looks nothing like the
    * mix I'm training on" (a crawl gone wrong, a template-heavy dump, a
    * mislabeled language shard) BEFORE that shard is blended in.
    *
    * TV(s, corpus) = ½·Σ_w |p_s(w) − p(w)| is computed ENTIRELY in
    * integer arithmetic: with c_sw/c_w the source/corpus token counts and
    * n_s/N the token totals, 2·N·n_s·TV = N·n_s + Σ_{w∈s}(|c_sw·N −
    * c_w·n_s| − c_w·n_s) — the absent-token mass folds into the closed
    * form N·n_s (Σ_w c_w·n_s = N·n_s), so only PRESENT (source, token)
    * pairs are ever materialized, no source×vocabulary grid. Products
    * accumulate as decimal(38,0) (exact at any corpus size; DuckDB's
    * int128 sums are the oracle twin), and the single final
    * integer→double conversion is IEEE-identical in both engines — the
    * same determinism discipline as q80/q81/q88's rational statistics.
    *
    * Scale shape: the corpus-scale token explode feeds EXACTLY ONE
    * map-side-combined aggregation — the (source, token) count table,
    * vocab×sources-sized (10⁸–10⁹ rows at 100 TB: parallel-sized, not
    * driver-sized). Per-token totals c_w are a window HASH-PARTITIONED
    * BY TOKEN over that table — vocab-wide parallel. The per-source and
    * corpus totals are NOT windows over it: the round-12 shape put
    * n_total behind `Window.partitionBy()`, which planned `Exchange
    * SinglePartition` under the vocab table and let the two windows
    * stacked above satisfy their clustering trivially on that one
    * partition — the whole (source, token) table crossed a single task
    * three times. Now they ride q88's broadcast-of-tiny idiom: one
    * narrow `sum(size(toks))` pass (map-combined straight to ≤ #sources
    * rows, no explode), n_total as an unpartitioned window over THAT
    * ≤ #sources-row table (the adjudicated q91/nlist pattern), and the
    * result broadcast-joined back. PlanPinsSpec pins the single
    * corpus-scale partial_count, the token-keyed window exchange, and
    * forbids SinglePartition exchanges under the vocab table. */
  def q90SourceTvDrift(spark: SparkSession, dir: String): DataFrame =
    // tokenizedDocs carries `source` since the q94 domain-cap work — the
    // former doc_id→source attach join is gone; the drift audit now rides
    // the shared scan with zero joins.
    sourceTvDriftToks(tokenizedDocs(Tables(spark, dir, "documents")))

  /** The reusable operator behind q90: any (source, text) frame. */
  def sourceTvDrift(docs: DataFrame): DataFrame =
    sourceTvDriftToks(docs.select(col("source"), toks(col("text")).as("toks")))

  private def sourceTvDriftToks(srcToks: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def dec(c: Column): Column = c.cast("decimal(38,0)")
    val bySrcW = srcToks
      .select(col("source"), explode(col("toks")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
    // Per-source token totals + the corpus total: a second NARROW corpus
    // pass (size(toks) only — no explode) that map-combines straight to
    // ≤ #sources rows; the unpartitioned n_total window runs over that
    // tiny table, never the vocab×sources one. n_src ≡ Σ_w c_sw per
    // source, so the output integers are bit-identical to the window
    // form (TvDriftPropsSpec re-proves vs brute force).
    val perSrc = srcToks
      .groupBy("source").agg(sum(size(col("toks"))).as("n_src"))
      .withColumn("n_total", sum("n_src").over(Window.partitionBy()))
    bySrcW
      .withColumn("c_w", sum("c_sw").over(Window.partitionBy("w")))
      .join(broadcast(perSrc), "source")
      .select(col("source"), col("n_src"), col("n_total"),
        (abs(dec(col("c_sw")) * dec(col("n_total")) -
          dec(col("c_w")) * dec(col("n_src"))) -
          dec(col("c_w")) * dec(col("n_src"))).as("term"))
      .groupBy("source", "n_src", "n_total")
      .agg(sum(col("term")).as("adj"))
      .select(col("source"), col("n_src").as("n_tokens"),
        round((dec(col("n_total")) * dec(col("n_src")) + col("adj"))
          .cast("double") /
          (lit(2.0) * col("n_total") * col("n_src")), 6).as("tv_dist"))
      .orderBy("source")
  }

  /** TOKEN BLOCKIZATION (q100): the concat-and-split packing an LLM
    * trainer actually performs — all documents' tokens concatenated in
    * doc_id order and cut into fixed-size training blocks — restated as
    * the per-doc placement table: global token offset, first/last block
    * touched, blocks spanned. Downstream, a writer groups by block id to
    * emit exactly-filled sequences; this table IS the shuffle key plan
    * for that write.
    *
    * The whole operator is one exact GLOBAL PREFIX SUM over the corpus in
    * doc_id order — the textbook unpartitioned-window hazard (one task
    * sorts everything; the q70 scaladoc documents the same exposure). The
    * scale shape here is the classic two-level scan:
    *
    *   1. bucket documents by `doc_id div W` (order-preserving);
    *   2. per-bucket token sums — a real aggregation with map-side
    *      combine, output corpus/W rows;
    *   3. running bucket offsets — a window over the BUCKET table only;
    *   4. broadcast offsets back; per-doc running sums in windows
    *      partitioned by bucket — ≤ W docs each, embarrassingly parallel.
    *
    * Identical output to the naive global window (TokenBlocksSpec asserts
    * equality and PlanPinsSpec forbids the corpus-wide unpartitioned
    * window); every corpus-scale exchange is keyed on the bucket. All
    * block arithmetic is non-negative integer division, identical under
    * truncation and floor — bit-safe cross-engine with no rounding
    * games. */
  def q100TokenBlocks(spark: SparkSession, dir: String): DataFrame =
    tokenBlocksAuto(tokenizedDocs(Tables(spark, dir, "documents")), 256L)
      .orderBy("doc_id")

  /** [[tokenBlocks]] with the bucket width derived by the √n rule: the
    * two-level scan is balanced when BOTH levels are √n-sized — the
    * bucket table (n/W rows through the one unpartitioned window) and
    * each per-bucket window partition (≤ W docs) — so W ≈ √n_docs keeps
    * either side at ~10⁵ rows even for a 10¹⁰-doc corpus. A fixed W is
    * a footgun in both directions (W=100 at 10¹⁰ docs → a 10⁸-row
    * bucket table through one task; W=10⁶ at 10⁴ docs → no
    * parallelism), so the registered q100 pays one cheap count() to set
    * the dial. The width never changes the OUTPUT (TokenBlocksSpec
    * proves equality at arbitrary widths), only the plan's balance. */
  def tokenBlocksAuto(tok: DataFrame, blockSize: Long): DataFrame = {
    val n = tok.count()
    tokenBlocks(tok, blockSize, math.max(1L, math.sqrt(n.toDouble).round))
  }

  /** The reusable operator behind q100: any (doc_id, toks) frame;
    * `blockSize` in tokens, `bucketWidth` in doc_ids (the parallelism /
    * window-input-size dial — W ≈ √n_docs unless you have a reason, see
    * [[tokenBlocksAuto]]). */
  def tokenBlocks(tok: DataFrame, blockSize: Long,
                  bucketWidth: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(blockSize >= 1 && bucketWidth >= 1)
    val counts = tok.select(col("doc_id"),
      size(col("toks")).cast("long").as("n_tokens"),
      expr(s"doc_id div $bucketWidth").as("b"))
    val bsums = counts.groupBy("b").agg(sum("n_tokens").as("btoks"))
    // Unpartitioned window — over the BUCKET table (corpus/W rows), the
    // one place a global order is inherently needed, never the corpus.
    val byBucket = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bsums
      .withColumn("boff", coalesce(sum("btoks").over(byBucket), lit(0L)))
      .select("b", "boff")
    val inBucket = Window.partitionBy("b").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // No broadcast hint: at the √n width the offset table is √n rows
    // (trivially broadcast — AQE picks that at runtime), but a caller
    // pinning a small W on a huge corpus makes it corpus/W rows, and a
    // forced broadcast would overwhelm the driver; an equi-join on b
    // costs nothing extra anyway — the per-doc window needs the corpus
    // hash-partitioned by b regardless, so both join inputs ride
    // exchanges the plan already has.
    counts
      .join(offsets, "b")
      .withColumn("doff", coalesce(sum("n_tokens").over(inBucket), lit(0L)))
      .select(col("doc_id"), col("n_tokens"),
        (col("boff") + col("doff")).as("offset"))
      .select(col("doc_id"), col("n_tokens"), col("offset"),
        expr(s"offset div $blockSize").as("block_first"),
        expr(s"(offset + n_tokens - 1) div $blockSize").as("block_last"))
      .withColumn("blocks_spanned",
        col("block_last") - col("block_first") + 1)
  }

  /** RANGE-PARTITION PLUS PER-BUCKET OFFSETS — the low-level operator
    * under [[exactStratumRank]] (the [[tokenBlocks]] prefix-sum idiom
    * applied to ranking). Ranks within a stratum by a caller-supplied long key —
    * order-isomorphic to the intended sort order and DISTINCT within
    * each stratum — are computed without ever sorting a whole stratum
    * in one task. The naive form (`Window.partitionBy(stratum)
    * .orderBy(...)`) serializes each stratum; at 100 TB a dominant
    * source (a web crawl holding most of the corpus) funnels through
    * ONE task. Decomposition:
    *
    *   1. per-stratum RANGE CUTPOINTS on the key via
    *      `percentile_approx` — a map-combinable aggregate (GK sketch,
    *      partial-merge), output `nBuckets−1` longs per stratum
    *      regardless of corpus size — plus the stratum size `grp_n`.
    *      Quantile (not fixed-width) cuts make the bucketing
    *      DISTRIBUTION-ROBUST: a constant-quality stratum still splits,
    *      because the composite key's tie-break bits (doc_id) spread the
    *      cutpoints — the same reason Spark's own RangePartitioner
    *      samples rather than divides the domain;
    *   2. map-only bucket assignment (count of cuts strictly below the
    *      key) off a ≤ #strata-row broadcast;
    *   3. per-(stratum, bucket) counts `bn` — a real aggregation with
    *      map-side combine, output ≤ #strata × nBuckets rows;
    *   4. running bucket offsets `boff` — a window over THAT bucket
    *      table only (the one place a per-stratum order is inherently
    *      needed).
    *
    * Returns `(bucketed, offsets)`: the input columns + `grp_n` + `bkt`,
    * and the (stratum…, bkt, bn, grp_n, boff) bucket table. The rank
    * finishes with a per-bucket `row_number` + `boff` — windows over
    * ≈ n/nBuckets rows each, partitioned by (stratum, bucket).
    * rank = boff + row_number is EXACT: cutpoint-sketch error moves
    * bucket boundaries, never ranks (any cut set that respects the key
    * order partitions the order, and both levels count every row
    * exactly once). */
  private def rangeBucketOffsets(df: DataFrame, group: Seq[String],
                                 keyCol: String,
                                 nBuckets: Int): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    require(nBuckets >= 2, "need at least 2 range buckets")
    val gcols = group.map(col)
    val k = col(keyCol)
    val ps = (1 until nBuckets).map(i => lit(i.toDouble / nBuckets))
    val cuts = df.groupBy(gcols: _*).agg(
      percentile_approx(k, array(ps: _*), lit(10000)).as("cuts"),
      count(lit(1)).as("grp_n"))
    val bucketed = nullSafeJoin(df, cuts, group, bcast = true)
      .withColumn("bkt", size(filter(col("cuts"), c => c < k)))
      .drop("cuts")
    val byBucket = Window.partitionBy(gcols: _*).orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketed.groupBy((gcols :+ col("bkt")): _*)
      .agg(count(lit(1)).as("bn"), max("grp_n").as("grp_n"))
      .withColumn("boff", coalesce(sum("bn").over(byBucket), lit(0L)))
    (bucketed, offsets)
  }

  /** Join on `keys` that matches NULL to NULL (`<=>`): groupBy and the
    * `Window.partitionBy` the rank decomposition replaces treat a NULL
    * stratum as its own group, so a plain equi-join would silently drop
    * those rows (CalibrationSpec pins a NULL-stratum case). No keys is
    * the one global stratum: every row matches. */
  private def nullSafeJoin(l: DataFrame, r: DataFrame, keys: Seq[String],
                           bcast: Boolean): DataFrame = {
    val rr = keys.foldLeft(r)((d, c) => d.withColumnRenamed(c, s"__r_$c"))
    val cond = keys.map(c => col(c) <=> col(s"__r_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    l.join(if (bcast) broadcast(rr) else rr, cond)
      .drop(keys.map(c => s"__r_$c"): _*)
  }

  /** EXACT PER-STRATUM RANK over [[rangeBucketOffsets]]: every row's
    * bucket offset joined back, plus `row_number` within its (stratum,
    * bucket). Output = input columns + `grp_n` (stratum size, for
    * percent_rank / ntile denominators) + `rnk` (1-based exact rank).
    * Identical to the naive per-stratum window at every bucket count
    * (CalibrationSpec proves equality at arbitrary nBuckets); consumed
    * by q108 (percent_rank = (rnk−1)/(grp_n−1)), q70 (ntile(10)
    * restated as its closed form over rnk) and q143. The offsets join
    * is deliberately NOT broadcast — at the √n dial it is √n-sized and
    * AQE broadcasts it at runtime, but a small fixed nBuckets on a huge
    * corpus would make a forced broadcast a driver hazard, and the
    * equi-join rides the (stratum, bucket) exchange the per-bucket
    * window needs anyway (the same adjudication as [[tokenBlocks]]). */
  def exactStratumRank(df: DataFrame, group: Seq[String], keyCol: String,
                       nBuckets: Int): DataFrame = {
    val (bucketed, offsets) = rangeBucketOffsets(df, group, keyCol, nBuckets)
    val inBucket = org.apache.spark.sql.expressions.Window
      .partitionBy((group :+ "bkt").map(col): _*).orderBy(keyCol)
    nullSafeJoin(bucketed, offsets.select((group :+ "bkt" :+ "boff").map(col): _*),
      group :+ "bkt", bcast = false)
      .withColumn("rnk", col("boff") + row_number().over(inBucket))
      .drop("bkt", "boff")
  }

  /** √n bucket-count dial for [[rangeBucketOffsets]] — the
    * [[tokenBlocksAuto]] policy: both levels stay ≈ √n-sized (the
    * bucket table through the one per-stratum window, each per-bucket
    * partition through row_number). Capped at 4096 so the cutpoint
    * probe array stays plan-friendly on any corpus (at 10¹⁰ docs the
    * cap means ≈ 2.4M-row bucket partitions — still thousands of ways
    * parallel, and the decomposition composes recursively if a bucket
    * ever outgrows a task). One parquet count-star (footer metadata)
    * sets the dial; the width never changes the output, only the
    * plan's balance. */
  private def rankBuckets(docs: DataFrame): Int = {
    val n = docs.count()
    math.min(4096L, math.max(2L, math.sqrt(n.toDouble).round)).toInt
  }

  /** Order-isomorphic composite long key for (6-decimal quality,
    * doc_id): `q6 · 2^40 + doc_id`, with q6 = round(quality·1e6) exact
    * on the 6-rounded score (strictly monotone: distinct rounded
    * qualities differ by ≥ 1e-6 → distinct q6). doc_id must stay below
    * 2^40 (~10¹²) — comfortably above any real corpus's row id — and q6
    * below 2^20, so the composite fits a long with headroom. `desc`
    * flips the quality component (1e6 − q6) for descending-quality
    * orders (q70); doc_id stays ascending as the tie-break either
    * way. */
  private def qualityDocKey(desc: Boolean): Column = {
    val q6 = round(col("quality") * 1e6).cast("long")
    val qPart = if (desc) lit(1000000L) - q6 else q6
    qPart * lit(1L << 40) + col("doc_id")
  }

  /** SimHash fingerprint: 60-bit signature where bit b is the sign of the
    * weighted sum of token-hash bits. Emitted with a 16-bit prefix bucket —
    * the banding key a near-dup pass would equi-join on (same pattern as
    * q25, different sketch). Pure nested HOFs, no shuffle until sort. */
  def q26DocsSimhash(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.VectorExpressions.register(spark)
    tokenizedDocs(Tables(spark, dir, "documents"))
      // token pre-hash stays a built-in HOF (md5 dominates); the 60-bit
      // counter sketch runs as the native codegen'd expression — the
      // nested-HOF form allocated a 60-long accumulator per token and
      // benched ~12 s at sf0.1.
      .withColumn("th", expr(
        "transform(toks, t -> cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint))"))
      .withColumn("simhash", call_function("graft_simhash", col("th")))
      .select(col("doc_id"), col("simhash"),
        expr("simhash >> 44").as("band_bucket"))
      .orderBy("doc_id")
  }

  /** EXACT-SUBSTRING DEDUP SPANS (q93): the substring-level member of the
    * dedup family — duplicated PASSAGES inside otherwise-unique documents,
    * the case doc-level exact (q20), near (q25/q26), containment (q66) and
    * cluster (q79) dedup all miss. The ExactSubstr idea (suffix-array
    * dedup in "Deduplicating Training Data Makes Language Models Better",
    * Lee et al. 2022) re-expressed relationally:
    *
    *   1. position-carrying k-gram hash table: one row per (doc, start
    *      position), key = 56-bit hash of the k-token gram — the shuffle
    *      key is fixed-width, never the text;
    *   2. cross-doc duplicated grams: group by hash, keep hashes seen in
    *      ≥ 2 distinct docs. The table is bounded by ACTUAL duplication,
    *      not by the corpus — a clean corpus makes it tiny;
    *   3. back-join to positions → the duplicated start positions per doc;
    *   4. gaps-and-islands merge (window partitioned by doc_id): adjacent
    *      or overlapping [p, p+k-1] intervals fuse into maximal redaction
    *      spans — the per-doc spans a rewrite pass would cut, map-only.
    *
    * Scale shape: two corpus-scale exchanges (gram-hash groupBy, its
    * back-join) on fixed-width keys, then a window whose partitions are
    * single documents — bounded by doc length, embarrassingly parallel.
    * Never all-pairs: candidate volume = duplicated positions, measured
    * linear on the amplified corpora (SCALE.md). Registered with k = 3 to
    * share the trigram universe the rest of the family uses; production
    * ExactSubstr runs k ≈ 50 — same plan, longer grams, FEWER duplicated
    * positions. */
  def q93ExactSubstrSpans(spark: SparkSession, dir: String): DataFrame =
    exactSubstrSpans(tokenizedDocs(Tables(spark, dir, "documents")), 3)
      .orderBy("doc_id", "span_start")

  /** q109: [[exactSubstrSpans]] at the PRODUCTION dial — k = 20, the
    * gram width real ExactSubstr deployments run (Lee et al. use ~50
    * BPE tokens; 20 whitespace tokens is the same regime). Identical
    * plan to q93 — only the gram is longer, so the duplicated-position
    * table is SMALLER (SCALE.md measures the k-dial: volume falls 43×
    * from k=3 to k=50) — registered so the oracle certifies the
    * production setting, not just the trigram-universe-sharing one. */
  def q109ExactSubstrProdK(spark: SparkSession, dir: String): DataFrame =
    exactSubstrSpans(tokenizedDocs(Tables(spark, dir, "documents")), 20)
      .orderBy("doc_id", "span_start")

  /** BIGRAM LM QUALITY SCORE (q95): a KenLM-style fluency proxy — how
    * probable is each document under a bigram model of the corpus itself?
    * Gopher-style pipelines use exactly this signal (perplexity under a
    * reference LM) as a quality filter; here the model IS the corpus
    * (self-scoring), so every document bigram exists in the model and the
    * score needs no smoothing.
    *
    * Bit-safety: no logs, no floating point anywhere. Each bigram's
    * conditional probability p(w2|w1) = c(w1 w2) / c(w1 ·) is quantized
    * ppm by INTEGER floor division, and the document score is the integer
    * mean of those ppm values — partial-aggregate merges combine exact
    * longs, so the result is identical under any partitioning and
    * hash-matches the sequential DuckDB restatement (the q80/q81
    * rational-arithmetic recipe; `c12 * 1e6` stays under 2^63 for any
    * corpus below ~9×10^12 repeats of one bigram).
    *
    * Scale shape: every shuffle key is a 56-bit hash (bigram h12, prefix
    * h1) — never token text. The model is built once from the aggregated
    * pair table (pair → prefix totals is a model-sized aggregation, NOT a
    * second corpus pass), and the scoring join is corpus-stream ×
    * aggregated-model — the corpus never self-joins. */
  def q95BigramLmScore(spark: SparkSession, dir: String): DataFrame =
    bigramLmScoreToks(tokenizedDocs(Tables(spark, dir, "documents")))
      .orderBy("doc_id")

  /** The reusable operator behind q95: any (doc_id, text) frame. Unlike
    * the registered q95 (which rides the session-scoped tokenizedDocs
    * cache that [[graft.Artifacts.clear]] releases), this generic
    * path does NOT memo-cache the pair table — a library caller scoring
    * many ad-hoc frames in one session would otherwise accumulate
    * persisted pair tables keyed on frames no public release method can
    * address. The cost is one extra corpus bigram pass when exchange
    * reuse misses; the registered/tokenized path keeps the cache. */
  def bigramLmScore(docs: DataFrame): DataFrame =
    bigramLmScoreToks(
      docs.select(col("doc_id"), toks(col("text")).as("toks")),
      memo = false)

  private def bigramPairs(g: DataFrame): DataFrame =
    g.groupBy("h12", "h1").agg(count(lit(1)).as("c12"))

  /** Per bigram instance: (doc_id, 56-bit bigram hash, 56-bit prefix
    * hash) — one corpus pass, fixed-width keys for everything downstream. */
  private def bigramStream(tok: DataFrame): DataFrame = {
    val t = col("toks")
    val n = size(t)
    tok
      .filter(n >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
        (a, b) => struct(
          md5Long(concat(a, lit(" "), b), 14).as("h12"),
          md5Long(a, 14).as("h1")))).as("bg"))
      .select(col("doc_id"), col("bg.h12").as("h12"), col("bg.h1").as("h1"))
  }

  private def bigramLmScoreToks(tok: DataFrame,
                                memo: Boolean = true): DataFrame = {
    val g = bigramStream(tok)
    // The pair table is VOCABULARY-sized (distinct bigrams), not
    // corpus-sized — persist it so model and prefix totals both read the
    // one aggregation. Without the cache, ctx's column pruning makes its
    // pair subplan non-identical to model's, exchange reuse misses, and
    // the corpus bigram stream is exploded a third time. memo=false on
    // the ad-hoc-frame path (see [[bigramLmScore]]).
    val pair = if (memo) memoShared(tok, "bigram-pairs") { bigramPairs(g) }
               else bigramPairs(g)
    // Prefix totals from the PAIR table (model-sized), not the corpus:
    // c(w1 ·) = Σ_w2 c(w1 w2).
    val ctx = pair.groupBy("h1").agg(sum("c12").as("c1"))
    val model = pair.join(ctx, "h1")
      .select(col("h12"), expr("(c12 * 1000000) div c1").as("p_ppm"))
    g.select("doc_id", "h12")
      .join(model, "h12")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(p_ppm) div count(1)").as("score_ppm"))
  }

  /** Text-frame form of [[exactSubstrSpans]]: any (doc_id, text) frame. */
  def exactSubstr(docs: DataFrame, k: Int): DataFrame =
    exactSubstrSpans(
      docs.select(col("doc_id"), toks(col("text")).as("toks")), k)

  /** SUBSTRING REDACTION (q96): APPLY the q93 spans — rewrite the corpus
    * with every cross-doc duplicated passage cut out. Detection (q93)
    * and rewrite compose into the full ExactSubstr pipeline: the
    * q96 policy cuts ALL duplicated occurrences (deterministic,
    * order-free); q97 ([[substrRedactKeepOne]]) is the keep-one policy —
    * an owner election on the (bounded) dup-hash table, same plan
    * otherwise.
    *
    * Shape: covered token positions come straight from the duplicated
    * START positions (`sequence(pos, pos+k-1)` + distinct — never from
    * re-matching text), collect to a per-doc sorted array (bounded by doc
    * length), left-join back, and the rewrite itself is one indexed
    * `filter` HOF + `array_join` — map-only over the joined row. Output
    * text is the token-normalized form (lowercased, single-spaced): the
    * rewrite operates on the SAME token stream the detector hashed, so a
    * span cut here is exactly a span the detector flagged. */
  def q96SubstrRedact(spark: SparkSession, dir: String): DataFrame =
    substrRedact(tokenizedDocs(Tables(spark, dir, "documents")), 3)
      .orderBy("doc_id")

  /** q97: [[substrRedactKeepOne]] registered — duplicated passages
    * survive in their canonical (min-doc_id) owner only. */
  def q97SubstrRedactKeepOne(spark: SparkSession, dir: String): DataFrame =
    substrRedactKeepOne(tokenizedDocs(Tables(spark, dir, "documents")), 3)
      .orderBy("doc_id")

  /** The reusable operator behind q96: any (doc_id, toks) frame. */
  def substrRedact(tok: DataFrame, k: Int): DataFrame =
    redactByPositions(tok, dupPositions(tok, k), k)

  /** KEEP-ONE redaction (q97): the Lee et al. policy proper — duplicated
    * content survives in exactly ONE document. Each duplicated gram hash
    * elects a canonical owner (min doc_id — deterministic, order-free);
    * only non-owner occurrences are cut. The owner election is one extra
    * aggregate column on the (bounded) dup-hash table — same plan as the
    * cut-all form otherwise. A doc can own one phrase and lose another;
    * ownership is per-passage, not per-document. */
  def substrRedactKeepOne(tok: DataFrame, k: Int): DataFrame = {
    val grams = posGrams(tok, k)
    val dup = grams
      .groupBy("h").agg(countDistinct(col("doc_id")).as("nd"),
        min(col("doc_id")).as("owner"))
      .filter(col("nd") >= 2)
      .select("h", "owner")
    val dp = grams.join(dup, "h")
      .filter(col("doc_id") =!= col("owner"))
      .select("doc_id", "pos")
    redactByPositions(tok, dp, k)
  }

  /** Shared rewrite tail: expand duplicated start positions to covered
    * positions, cut those tokens, rebuild the text. */
  private def redactByPositions(tok: DataFrame, dp: DataFrame,
                                k: Int): DataFrame = {
    val cov = dp
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (k - 1))).as("cpos"))
      .distinct()
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("cpos"))).as("cps"))
    tok
      .join(cov, Seq("doc_id"), "left")
      // coalesce BEFORE the lambda: array_contains(null, i) is null, and
      // a null predicate drops the token — an unspanned doc would lose
      // every token instead of keeping them all.
      .withColumn("cps2", coalesce(col("cps"), array().cast("array<long>")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        filter(col("toks"), (t, i) =>
          !array_contains(col("cps2"), (i + 1).cast("long"))).as("kept"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("kept")).cast("long").as("kept_tokens"),
        array_join(col("kept"), " ").as("redacted_text"))
  }

  /** The reusable operator behind q93: any (doc_id, toks) frame → maximal
    * per-doc duplicated-span table (doc_id, span_start, span_end,
    * span_tokens), token positions 1-based inclusive. Two intervals merge
    * when they overlap OR touch (a contiguous duplicated run is one
    * span). */
  /** One row per k-gram start position: (doc_id, pos, 56-bit gram hash). */
  private def posGrams(tok: DataFrame, k: Int): DataFrame = {
    require(k >= 2, s"k-gram width must be >= 2, got $k")
    val t = col("toks")
    val n = size(t)
    // k shifted slices zipped into "w1 w2 … wk" grams — each collection
    // evaluated once per row (the HOF O(len²) trap documented at
    // [[shingles]] applies here too).
    val gram = (1 to k).map(i => slice(t, lit(i), n - (k - 1)))
      .reduce((a, b) => zip_with(a, b, (x, y) => concat(x, lit(" "), y)))
    tok
      .filter(n >= k)
      .select(col("doc_id"), posexplode(gram))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        md5Long(col("col"), 14).as("h"))
  }

  /** The duplicated (doc_id, pos) table: start positions of k-grams seen
    * in ≥ 2 distinct docs. */
  private def dupPositions(tok: DataFrame, k: Int): DataFrame = {
    val grams = posGrams(tok, k)
    // Hashes seen in >= 2 distinct docs. Cross-doc only by design: a
    // within-doc repeat is not evidence of corpus duplication.
    val dup = grams
      .groupBy("h").agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2)
      .select("h")
    // One row per gram position, so the equi-join (dup.h is distinct)
    // yields at most one row per (doc, pos) — no dedup pass needed.
    grams.join(dup, "h").select("doc_id", "pos")
  }

  def exactSubstrSpans(tok: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dp = dupPositions(tok, k)
    val byPos = Window.partitionBy("doc_id").orderBy("pos")
    val prevMax = max(col("pos"))
      .over(byPos.rowsBetween(Window.unboundedPreceding, -1))
    // Island start when this interval [pos, pos+k-1] neither overlaps nor
    // touches the furthest previous end (prevMax + k - 1): pos > prev end
    // + 1  ⇔  pos > prevMax + k.
    val st = when(prevMax.isNull || col("pos") > prevMax + lit(k), 1L)
      .otherwise(0L)
    dp
      // Two projections: a window expression may not feed another window
      // function in the same projection, so the island marker materializes
      // first, then its running sum numbers the islands. Both run over the
      // SAME (doc_id, pos) sort — one exchange + one sort, two Window ops.
      .withColumn("st", st)
      .withColumn("sid", sum(col("st")).over(
        byPos.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("sid"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1)).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** [[packToBudget]] generalized to PER-STRATUM budgets: `budgets` is a
    * tiny (strata…, budget: long) table — one row per stratum, broadcast
    * everywhere it is used. A stratum absent from `budgets` is excluded by
    * policy (allocation zero), so the corpus join is inner, not left.
    *
    * The exact-prune argument of [[packToBudget]] carries over with
    * `budget` read from the joined column instead of a literal: a
    * document whose strictly-higher quality buckets already hold ≥ its
    * stratum's budget can never be admitted. The histogram window still
    * runs over ≤ strata × 1001 rows and the exact window over
    * ~budget-sized survivors — nothing corpus-sized is ever sorted. */
  def packToBudgets(scored: DataFrame, budgets: DataFrame,
                    strata: Seq[String]): DataFrame =
    packPrefix(scored, strata, col("budget"),
      _.join(broadcast(budgets), strata))

  /** TEMPERATURE-WEIGHTED SOURCE MIX — the multilingual-LLM sampling rule
    * (weights ∝ massᵅ, α = 1/2) as a batch pack: low-resource sources are
    * UP-sampled relative to their corpus share, high-resource sources
    * down-sampled, and each source's allocation is filled with its
    * highest-quality documents.
    *
    * All the α = 1/2 arithmetic is EXACT and order-independent, so the
    * DuckDB hash compare needs no float tolerance:
    *   - per-source mass nᵢ: integer sum (map-combinable aggregate);
    *   - weight wᵢ = ⌊√nᵢ⌋: IEEE sqrt is correctly rounded, so Spark and
    *     DuckDB compute the identical double and the identical floor;
    *   - denominator S = Σwᵢ: integer sum over the #sources-row table;
    *   - allocation aᵢ = (B·wᵢ) div S: INTEGER division (`div`, `//`) —
    *     never a double quotient that could round across an integer.
    *
    * Scale shape: one map-combinable aggregate builds the #sources-row
    * mass table; the 1-row denominator attaches by broadcast crossJoin
    * (q88's idiom); the pack is [[packToBudgets]], so the per-source
    * fill windows see ~allocation-sized survivor sets, never whole
    * sources. The corpus crosses exactly two exchanges (mass aggregate,
    * histogram aggregate) plus the bounded survivor sort. */
  def temperatureMix(scored: DataFrame, budget: Long): DataFrame = {
    val mass = scored.groupBy("source")
      .agg(sum("n_tokens").as("src_tokens"))
      .withColumn("w", floor(sqrt(col("src_tokens").cast("double"))))
    val denom = mass.agg(sum("w").as("sw"))
    val budgets = mass.crossJoin(broadcast(denom))
      .withColumn("budget", expr(s"(${budget}L * w) div sw"))
      .select(col("source"), col("src_tokens"), col("budget"))
    packToBudgets(scored, budgets, Seq("source"))
      .withColumnRenamed("budget", "alloc_tokens")
  }

  /** q102: [[temperatureMix]] over the scored corpus, B = 6000 tokens.
    * On the fixture the per-source allocations (~B/#sources ≈ 300
    * tokens, against ~1.3k-token sources) all bind, so the oracle
    * exercises both the allocation arithmetic and a multi-document
    * quality-ordered fill per source. */
  def q102TemperatureMix(spark: SparkSession, dir: String): DataFrame = {
    val scored = scoredDocs(
      tokenizedDocs(Tables(spark, dir, "documents")), Seq("source"))
    temperatureMix(scored, 6000L)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("quality"), col("src_tokens"), col("alloc_tokens"),
        col("cum_tokens"))
      .orderBy("source", "cum_tokens", "doc_id")
  }

  /** FILTER CASCADE with first-fail attribution — the curation-pipeline
    * audit behind every web-corpus filter stack (which rule kills how
    * many documents, and how much token mass goes with them?). `rules`
    * is an ORDERED (name, fail-condition) list; a document is attributed
    * to the FIRST rule it fails — the convention that makes per-rule
    * counts a partition of the corpus (Σ n_docs = total docs) rather
    * than overlapping tallies, so rule costs can be read off directly.
    *
    * Shape: the whole cascade is ONE chained `when` projection — map-only
    * — followed by a single map-combinable aggregate. Nothing about it
    * changes at 100 TB; `min/max_quality` are order-insensitive so the
    * result is engine-stable with no float-sum games. */
  def filterCascade(scored: DataFrame,
                    rules: Seq[(String, Column)]): DataFrame = {
    val verdict = rules.zipWithIndex
      .foldLeft(Option.empty[Column]) { case (acc, ((name, cond), i)) =>
        val arm = struct(lit(i + 1).cast("long").as("rule_idx"),
          lit(name).as("verdict"))
        Some(acc.fold(when(cond, arm))(_.when(cond, arm)))
      }.get
      .otherwise(struct(lit(rules.size + 1).cast("long").as("rule_idx"),
        lit("kept").as("verdict")))
    scored
      .withColumn("v", verdict)
      .groupBy(col("lang"), col("v.rule_idx").as("rule_idx"),
        col("v.verdict").as("verdict"))
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("tokens"),
        min("quality").as("min_quality"), max("quality").as("max_quality"))
  }

  /** DISTRIBUTED BPE TRAINER — the tokenizer-training step expressed in
    * the shape that survives 100 TB: the corpus is crossed EXACTLY ONCE
    * (one explode → word-frequency aggregate, map-side combined); every
    * merge iteration then runs on the VOCABULARY-sized word table, whose
    * row count is fixed by the language, not the corpus.
    *
    * Representation: each word is a string of sentinel-wrapped symbols
    * (U+0001 sym U+0002, repeated), so one BPE merge is a single literal
    * `replace` of the wrapped pair with the wrapped concatenation —
    * and literal replace's left-to-right non-overlapping scan IS the BPE
    * greedy merge rule ("aaa" + (a,a) → "aa","a"), with the sentinels
    * making a symbol-boundary match impossible to confuse with a
    * substring match ("xa","b" can never match pair (a,b)). The
    * pair-count step splits the string back to symbols and counts
    * adjacent pairs weighted by word frequency — overlapping pairs
    * counted, the standard convention.
    *
    * Each iteration collects exactly ONE row (the argmax pair, ties
    * broken lexicographically so both engines agree) — the kmeans/IVF
    * trainer idiom, not a driver-side data loop; the evolving vocab
    * re-persists per round and the superseded relation is released.
    * Caveat: corpora that may contain U+0001/U+0002 should strip them
    * upstream (the sentinels must not occur in text).
    *
    * Reference scope: the reference has no tokenizer trainer; this is
    * the training-data-pipeline extra (SURVEY §7.1) — Sennrich et al.'s
    * algorithm re-expressed relationally. */
  def bpeMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainBpe(docs, nMerges, wordpiece = false)
      .map { case (st, a, b, m, c, _) => (st, a, b, m, c) }
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
  }

  /** BATCHED BPE TRAINER — [[bpeMerges]]'s production form: the
    * sequential trainer pays ONE Spark job per merge (a vocab-sized
    * pair-count aggregate + a 1-row argmax collect), so a production
    * 30k–50k-merge run is 30k sequential round trips whose cost is
    * dominated by job latency, not data. This variant folds a PROVABLY
    * EQUIVALENT batch of merges into each job: take the ranked pair
    * list's maximal prefix p_1..p_m (rank order, NO skipping) such that
    *
    *   (1) the pairs are pairwise symbol-disjoint ({a_i,b_i} ∩
    *       {a_j,b_j} = ∅), so their string rewrites commute and none
    *       consumes another's occurrences;
    *   (2) no self-pair (a = b) after the first position — a self-merge
    *       leaves odd-run residue adjacent to its own merged symbol
    *       (aaa → aa·a mints the (aa, a) pair bounded only by the
    *       self-pair's OWN count), which escapes bound (3);
    *   (3) cnt(p_m) strictly exceeds cnt(p_{m+1}) — the batch ends on a
    *       strict count drop.
    *
    * Equality argument (spec'd empirically by BpeSpec on fixture and
    * adversarial corpora): at sequential step j ≤ m, every pair counted
    * ABOVE p_j in the original table is p_1..p_{j-1} (prefix, no skips)
    * — applied, hence count 0; disjointness leaves cnt(p_j..p_m)
    * unchanged; and every pair CREATED by earlier batch merges maps
    * through its junction (b_i, y) / (x, a_i) to an OLD pair sharing a
    * symbol with the batch — which, by disjointness, is not in the
    * prefix, so its count ≤ cnt(p_{m+1}) < cnt(p_j) by (3). The argmax
    * at step j is therefore exactly p_j, ties and all. WordPiece is NOT
    * batchable this way: its likelihood score's denominators shrink
    * under merging, so created pairs can outscore old bounds.
    *
    * One job now advances `m` merges (fixture-measured batch widths in
    * SCALE.md); the collect grows from 1 row to `batchCap + 1` rows of
    * a vocab-bounded table — the same driver-scalar class as the
    * sequential argmax. */
  def bpeMergesBatched(docs: DataFrame, nMerges: Int,
                       batchCap: Int = 64): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.Artifacts(docs, ("bpe", nMerges, s"batched$batchCap"))(
      trainBpeBatched(docs, nMerges, batchCap))
      .toDF("step", "lhs", "rhs", "merged", "pair_count")
  }

  private def trainBpeBatched(docs: DataFrame, nMerges: Int, batchCap: Int)
      : Seq[(Long, String, String, String, Long)] = {
    require(batchCap >= 1)
    val S = bpeS; val E = bpeE
    val words = tokenizedDocs(docs)
      .select(explode(col("toks")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    val enc = array_join(
      transform(filter(split(col("word"), ""), ch => ch =!= ""),
        ch => concat(lit(S), ch, lit(E))), "")
    // Lineage cut per round: each rewrite LAZILY localCheckpoints, so
    // the round's one argmax action materializes it (rounds stay one job
    // each) and the logical plan stays constant-size — without the cut
    // the plan gains a projection per round and Spark's own plan-string
    // rendering OOMs near ~40 rounds, far short of a production
    // 30k-merge run. Old round blocks are reclaimed by the
    // ContextCleaner once unreferenced (the dedupClusters precedent).
    var vocab = cut("trainBpeBatched.vocab",
      words.select(enc.as("s"), col("freq")))
    val merges =
      scala.collection.mutable.ListBuffer.empty[(Long, String, String, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val syms = split(
        regexp_replace(col("s"), "^\u0001|\u0002$", ""), "\u0002\u0001")
      val top = vocab.select(col("freq"), syms.as("y"))
        .select(col("freq"), explode(zip_with(
          slice(col("y"), lit(1), size(col("y")) - 1),
          slice(col("y"), lit(2), size(col("y")) - 1),
          (x, z) => struct(x.as("a"), z.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(batchCap + 1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        // Maximal no-skip prefix under rules (1) and (2).
        val used = scala.collection.mutable.Set.empty[String]
        var m = 0
        var stop = false
        val roomLeft = nMerges - step + 1
        while (!stop && m < top.length && m < batchCap && m < roomLeft) {
          val (a, b) = (top(m).getString(0), top(m).getString(1))
          if (used.contains(a) || used.contains(b)) stop = true
          else {
            used += a; used += b; m += 1
            // Rule (2): a self-pair CLOSES its batch — whether it opens
            // it or not — because its odd-run residue can adjoin its own
            // merged symbol (aaa → aa·a mints (aa, a) bounded only by
            // the self-pair's own count, not by cnt(p_{m+1})).
            if (a == b) stop = true
          }
        }
        // Rule (3): walk back to the last strict count drop. A tie at
        // the boundary would let a created pair tie-break past a batch
        // member; m = 1 is always safe (it IS the sequential step).
        while (m > 1 && m < top.length &&
          top(m - 1).getLong(2) == top(m).getLong(2)) m -= 1
        val batch = top.take(m)
        batch.zipWithIndex.foreach { case (r, i) =>
          merges += (((step + i).toLong, r.getString(0), r.getString(1),
            r.getString(0) + r.getString(1), r.getLong(2)))
        }
        val newS = batch.foldLeft(col("s")) { (c, r) =>
          replace(c,
            lit(S + r.getString(0) + E + S + r.getString(1) + E),
            lit(S + r.getString(0) + r.getString(1) + E))
        }
        vocab = cut("trainBpeBatched.vocab", vocab.withColumn("s", newS))
        step += m
      }
    }
    merges.toSeq
  }

  /** q112: the batched trainer at a PRODUCTION-shaped dial — 50 merges
    * (the q104 registration stays at 10 so the two oracles certify both
    * the sequential and the batched machinery; BpeSpec proves the two
    * trainers emit identical merge tables). The unrolled 50-stage DuckDB
    * oracle certifies every round's argmax independently — including
    * every batch boundary the width heuristic chose. */
  def q112BpeTrainBatched(spark: SparkSession, dir: String): DataFrame =
    bpeMergesBatched(Tables(spark, dir, "documents"), 50).orderBy("step")

  /** WORDPIECE-scored trainer — the same machinery as [[bpeMerges]] with
    * the argmax criterion swapped: merge the pair maximizing the
    * likelihood ratio c(ab) / (c(a)·c(b)) instead of the raw count
    * (Schuster & Nakajima's WordPiece rule; BPE merges what is frequent,
    * WordPiece merges what is SURPRISINGLY frequent — on the fixture its
    * first merge is 'q'+'u', the textbook example, where BPE's is
    * 'e'+'r'). Cross-engine determinism: the score is a correctly-rounded
    * IEEE division of exact integers (counts ≤ 2⁵³, product ≤ 2⁶³), so
    * both engines order by the identical double; ties break
    * lexicographically. The per-round unigram table is one extra
    * vocab-sized aggregate + two broadcast-sized joins — the iteration
    * stays vocabulary-bounded. */
  def wordpieceMerges(docs: DataFrame, nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    trainBpe(docs, nMerges, wordpiece = true)
      .toDF("step", "lhs", "rhs", "merged", "pair_count", "score_e9")
  }

  /** The BPE sentinels (see [[bpeMerges]]). */
  private val bpeS = "\u0001"
  private val bpeE = "\u0002"

  /** Driver-value twin of [[memoShared]]: the trained merge list keyed by
    * (input plan, nMerges). A few tuples of strings -- no persisted
    * relation to release -- but dropped by [[graft.Artifacts.clear]] so a
    * long-lived session can drop a stale tokenizer explicitly (the key is
    * the INPUT plan, so a changed corpus trains fresh regardless). q104
    * (train) and q105 (encode) share one training run through this. */
  private def trainBpe(docs: DataFrame, nMerges: Int, wordpiece: Boolean)
      : Seq[(Long, String, String, String, Long, Long)] =
    graft.Artifacts(docs, ("bpe", nMerges, wordpiece))(
      trainBpeUncached(docs, nMerges, wordpiece))

  private def trainBpeUncached(docs: DataFrame, nMerges: Int,
                               wordpiece: Boolean)
      : Seq[(Long, String, String, String, Long, Long)] = {
    val S = bpeS; val E = bpeE
    val words = tokenizedDocs(docs)
      .select(explode(col("toks")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("freq"))
    // Spark's split("", -1) keeps a trailing empty string; filter it.
    val enc = array_join(
      transform(filter(split(col("word"), ""), ch => ch =!= ""),
        ch => concat(lit(S), ch, lit(E))), "")
    // Lineage cut per round (same as the batched trainer): a LAZY
    // localCheckpoint is materialized by the round's one argmax action
    // (rounds stay one job each) and keeps the logical plan
    // constant-size — chained persists let the plan grow a projection
    // per round until Spark's own plan rendering OOMs near ~40 rounds.
    // Old round blocks are reclaimed by the ContextCleaner once
    // unreferenced (the dedupClusters precedent).
    var vocab = cut("trainBpeUncached.vocab",
      words.select(enc.as("s"), col("freq")))
    val merges =
      scala.collection.mutable.ListBuffer.empty[(Long, String, String, String, Long, Long)]
    var step = 1
    var exhausted = false
    while (step <= nMerges && !exhausted) {
      val syms = split(
        regexp_replace(col("s"), "^\u0001|\u0002$", ""), "\u0002\u0001")
      val symRows = vocab.select(col("freq"), syms.as("y"))
      val pairs = symRows
        .select(col("freq"), explode(zip_with(
          slice(col("y"), lit(1), size(col("y")) - 1),
          slice(col("y"), lit(2), size(col("y")) - 1),
          (x, z) => struct(x.as("a"), z.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("cnt"))
      val ranked =
        if (!wordpiece)
          pairs.withColumn("score_e9", lit(0L))
            .orderBy(desc("cnt"), asc("a"), asc("b"))
        else {
          // Per-round symbol unigram counts: one more vocab-sized
          // aggregate, broadcast back onto the (vocab-sized) pair table.
          val uni = symRows
            .select(col("freq"), explode(col("y")).as("sym"))
            .groupBy("sym").agg(sum("freq").as("u"))
          val score = col("cnt").cast("double") / (col("ua") * col("ub"))
          pairs
            .join(broadcast(uni.select(col("sym").as("a"), col("u").as("ua"))), "a")
            .join(broadcast(uni.select(col("sym").as("b"), col("u").as("ub"))), "b")
            .withColumn("score_e9",
              round(lit(1e9) * score).cast("long"))
            .orderBy(score.desc, asc("a"), asc("b"))
        }
      val top = ranked
        .select(col("a"), col("b"), col("cnt"), col("score_e9"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((step.toLong, a, b, a + b, c, top(0).getLong(3)))
        vocab = cut("trainBpeUncached.vocab", vocab.withColumn("s",
          replace(col("s"), lit(S + a + E + S + b + E), lit(S + a + b + E))))
        step += 1
      }
    }
    merges.toSeq
  }

  /** BPE ENCODER -- the serving side of [[bpeMerges]]: apply the trained
    * merge list to the corpus and report per-document token statistics
    * under the learned tokenizer. The 100 TB shape is the whole point:
    * the merge table is a DRIVER CONSTANT (the shipped tokenizer
    * artifact), so encoding folds the merges into ONE map-only projection
    * -- a chain of literal `replace` calls, no join, no broadcast, no
    * shuffle until the per-doc aggregate -- and the corpus is crossed
    * exactly once. Symbol count = sentinel count (one length subtraction),
    * so every output is an exact integer. */
  def bpeEncodeStats(docs: DataFrame,
                     merges: Seq[(String, String)]): DataFrame = {
    val S = bpeS; val E = bpeE
    val enc0 = array_join(
      transform(filter(split(col("word"), ""), ch => ch =!= ""),
        ch => concat(lit(S), ch, lit(E))), "")
    val encoded = merges.foldLeft(enc0) { case (c, (a, b)) =>
      replace(c, lit(S + a + E + S + b + E), lit(S + a + b + E))
    }
    tokenizedDocs(docs)
      .select(col("doc_id"), col("lang"), explode(col("toks")).as("word"))
      .filter(length(col("word")) > 0)
      // Materialize the replace-fold once per row -- the two length()
      // consumers below would otherwise each re-evaluate the whole chain.
      .select(col("doc_id"), col("lang"), length(col("word")).as("wlen"),
        encoded.as("enc"))
      .select(col("doc_id"), col("lang"), col("wlen"),
        (length(col("enc")) - length(replace(col("enc"), lit(S), lit(""))))
          .as("nsym"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_words"),
        sum(col("wlen").cast("long")).as("n_chars"),
        sum(col("nsym").cast("long")).as("n_bpe_tokens"))
  }

  /** q105: encode the corpus under q104's 10-merge tokenizer (one shared
    * training run via the driver-value cache) -- per-doc word/char/BPE-token
    * counts, the compression audit a tokenizer change ships with. */
  def q105BpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val merges = trainBpe(docs, 10, wordpiece = false)
      .map { case (_, a, b, _, _, _) => (a, b) }
    bpeEncodeStats(docs, merges).orderBy("doc_id")
  }

  /** PER-SOURCE QUALITY CALIBRATION (q108): replace each document's raw
    * quality score with its PERCENTILE RANK within its own source —
    * the standard calibration step before any corpus-wide threshold,
    * because raw score distributions differ by source (a web crawl's
    * 0.6 is not a books corpus's 0.6) and a single raw cutoff silently
    * skews the mix toward whichever source scores generously. After
    * calibration a global cutoff keeps the SAME FRACTION of every
    * source (spec'd: equal per-source acceptance on the fixture, and a
    * shifted-distribution fixture where the raw threshold keeps
    * 100%/0% while the calibrated one keeps ~half of each).
    *
    * Cross-engine exactness: percent_rank = (rank−1)/(n−1) over the
    * TOTAL (quality, doc_id) order — a correctly-rounded IEEE division
    * of exact integers, identical in both engines; stored ×1e9 as an
    * integer.
    *
    * Scale shape: the exact rank runs through [[exactStratumRank]]'s
    * two-level decomposition — per-source quantile range-buckets on the
    * composite (quality, doc_id) long key, per-bucket counts → running
    * offsets over the √n bucket table → per-bucket row_number + offset.
    * No window ever sees a whole source (PlanPinsSpec pins it): the
    * per-source window input is the ≤ #sources × √n bucket table, the
    * corpus-scale windows partition by (source, bucket). rank — and
    * therefore percent_rank — is bit-identical to the naive per-source
    * window at every bucket count (CalibrationSpec property). q76
    * remains the approximate sibling (cutpoint BINNING, no rank at
    * all) for pipelines that can tolerate boundary-epsilon bins. */
  def q108QualityCalibration(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val scored = scoredDocs(tokenizedDocs(docs), Seq("source"))
      .withColumn("k108", qualityDocKey(desc = false))
    exactStratumRank(scored, Seq("source"), "k108", rankBuckets(docs))
      .withColumn("cal_e9",
        when(col("grp_n") === 1L, lit(0L))
          .otherwise(round(lit(1e9) *
            ((col("rnk") - 1).cast("double") /
              (col("grp_n") - 1).cast("double"))).cast("long")))
      .withColumn("keep_fair", col("cal_e9") >= lit(500000000L))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("quality"), col("cal_e9"), col("keep_fair"))
      .orderBy("doc_id")
  }

  /** q107: 10 WordPiece merges ([[wordpieceMerges]]) — the
    * likelihood-ratio sibling of q104, sharing its oracle machinery
    * (the unrolled chain gains a per-round unigram CTE and the scored
    * argmax). */
  def q107WordpieceTrain(spark: SparkSession, dir: String): DataFrame =
    wordpieceMerges(Tables(spark, dir, "documents"), 10).orderBy("step")

  /** WORDPIECE ENCODER (q127): q107's serving side — the missing half
    * of the train/serve pattern the other two trainer families already
    * have (q104→q105, q119→q122). The shipped artifact is the WordPiece
    * VOCABULARY: every single character seen in training plus the 10
    * likelihood-ratio merged symbols (one shared training run via the
    * q107 driver-value memo). Encoding is greedy
    * LONGEST-MATCH-FIRST (Schuster & Nakajima's matching rule, the
    * BERT tokenizer's algorithm): at each position consume the longest
    * vocabulary piece that prefixes the remaining suffix — pieces at
    * position > 0 are continuation pieces (the `##`-prefixed entries of
    * a shipped vocab file; [[wordpieceSegment]] renders them that way) —
    * and a position no piece covers collapses the WHOLE word to one
    * [UNK] token, the standard WordPiece failure mode (unreachable when
    * encode corpus = train corpus, since every char is in the vocab;
    * pinned on a synthetic word in BpeSpec).
    *
    * Scale shape: the vocabulary is a DRIVER CONSTANT (chars +
    * merges — the tokenizer artifact), so the greedy match folds into
    * ONE map-only projection — an `aggregate` over ≤ maxWordLen
    * positions whose step is a longest-match when-chain over the
    * literal pieces; no join, no broadcast, the corpus crossed exactly
    * once before the per-doc aggregate (the q105 posture). Same
    * maxWordLen = 16 domain contract as q119/q122.
    *
    * Determinism/oracle parity: the match is pure string equality on
    * substrings (longest piece is unique — two same-length matches at
    * one position are the same string), counts are exact integers; the
    * oracle restates training via the q107 unrolled chain and the
    * greedy walk as a recursive CTE over the distinct-word lattice. */
  def q127WordpieceEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    wordpieceEncodeStats(docs, wordpieceVocab(docs, 10)).orderBy("doc_id")
  }

  /** The trained WordPiece vocabulary artifact: corpus chars + the
    * nMerges merged symbols, memoized beside the merge list it derives
    * from (dropped by [[graft.Artifacts.clear]]). */
  private[graft] def wordpieceVocab(docs: DataFrame, nMerges: Int): Seq[String] =
    graft.Artifacts(docs, ("wordpiece-vocab", nMerges)) {
      val merged = trainBpe(docs, nMerges, wordpiece = true).map(_._4)
      val chars = tokenizedDocs(docs)
        .select(explode(col("toks")).as("w"))
        .filter(length(col("w")) > 0)
        .select(explode(split(col("w"), "")).as("c"))
        .filter(col("c") =!= "")
        .distinct().collect().map(_.getString(0)).toSeq
      (chars ++ merged).distinct
    }

  /** The reusable operator behind q127: per-doc token statistics under
    * the greedy longest-match encoder for any vocabulary. */
  def wordpieceEncodeStats(docs: DataFrame, vocab: Seq[String],
                           maxWordLen: Int = 16): DataFrame = {
    // Longest-first order makes the when-chain's FIRST hit the greedy
    // choice; the lexicographic tiebreak is cosmetic (same-length
    // matches at one position are the same string). Single-char pieces
    // collapse out of the chain entirely: "some 1-char piece matches"
    // ⟺ "the current char is in the vocabulary's charset", one instr()
    // probe against a literal — the chain carries only the (few)
    // multi-char merges, so the per-position cost is ~|merges| + 1
    // comparisons instead of |vocab| (measured ~4× on the fold).
    val multi = vocab.filter(_.length > 1).sortBy(p => (-p.length, p))
    val charset = vocab.filter(_.length == 1).distinct.mkString
    val tok = tokenizedDocs(docs)
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
    val acc0 = struct(lit(0).as("pos"), lit(0L).as("n"), lit(false).as("unk"))
    val fold = aggregate(sequence(lit(1), lit(maxWordLen)), acc0, (acc, _) => {
      val pos = acc.getField("pos")
      val n = acc.getField("n")
      val unk = acc.getField("unk")
      val charHit =
        if (charset.isEmpty) lit(0)
        else when(instr(lit(charset), col("w").substr(pos + lit(1), lit(1))) > 0,
          lit(1)).otherwise(lit(0))
      val ml = multi.foldRight(charHit) { (p, els) =>
        when(col("w").substr(pos + lit(1), lit(p.length)) === lit(p),
          lit(p.length)).otherwise(els)
      }
      when(unk || pos >= length(col("w")), acc)
        .otherwise(when(ml > lit(0),
          struct((pos + ml).as("pos"), (n + lit(1L)).as("n"),
            lit(false).as("unk")))
          .otherwise(struct(pos.as("pos"), n.as("n"), lit(true).as("unk"))))
    })
    // The q122 dictionary move: the greedy fold is interpreted (HOF over
    // a when-chain), so evaluate it once per DISTINCT word — a
    // vocabulary-sized table — and let the corpus pass be a broadcast
    // dictionary join + per-doc aggregate. The distinct is map-side
    // combined (word-keyed partial agg), so the corpus crosses one
    // exchange carrying words, never fold results; production encoders
    // precompile frequent-word segmentations exactly like this.
    val dict = tok.select("w").distinct()
      .select(col("w"), length(col("w")).cast("long").as("wlen"),
        fold.as("st"))
      .select(col("w"), col("wlen"),
        when(col("st.unk"), 1L).otherwise(col("st.n")).as("n_pieces"),
        when(col("st.unk"), 1L).otherwise(0L).as("isunk"))
    tok.join(broadcast(dict), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_pieces").as("n_pieces"),
        sum("isunk").as("n_unk"),
        sum("wlen").as("n_chars"))
  }

  /** Driver-side twin of the greedy matcher, rendering a single word's
    * segmentation with the `##` continuation convention — the form a
    * shipped vocab file uses; BpeSpec pins it against
    * [[wordpieceEncodeStats]]. Returns Seq("[UNK]") when some position
    * has no cover. */
  def wordpieceSegment(word: String, vocab: Seq[String]): Seq[String] = {
    val pieces = vocab.sortBy(p => (-p.length, p))
    val out = scala.collection.mutable.ListBuffer.empty[String]
    var pos = 0
    while (pos < word.length) {
      pieces.find(p => word.regionMatches(pos, p, 0, p.length)) match {
        case Some(p) =>
          out += (if (pos == 0) p else "##" + p); pos += p.length
        case None => return Seq("[UNK]")
      }
    }
    out.toSeq
  }

  /** q104: 10 BPE merges trained on the corpus — the merge table IS the
    * tokenizer artifact a training run ships. The oracle restates all 10
    * iterations as an unrolled chain of MATERIALIZED CTEs, so every row
    * certifies one full argmax-over-evolving-vocabulary round
    * cross-engine. */
  def q104BpeTrain(spark: SparkSession, dir: String): DataFrame =
    bpeMerges(Tables(spark, dir, "documents"), 10).orderBy("step")

  /** q103: the standard four-rule stack over the scored corpus —
    * too-short, stopword-free (not natural language under the corpus's
    * en-marker heuristic), high repetition (low type/token ratio), and a
    * final quality floor. Thresholds chosen so every rule fires on the
    * fixture (n: p5≈16, stop_ratio: p10≈0.015, ttr: p10≈0.32,
    * quality: p25≈0.627). */
  def q103FilterCascade(spark: SparkSession, dir: String): DataFrame = {
    val t = col("toks")
    val base = tokenizedDocs(Tables(spark, dir, "documents")).select(
      col("doc_id"), col("lang"),
      size(t).cast("long").as("n_tokens"),
      (size(filter(t, x => x === "the" || x === "a")).cast("double") /
        size(t)).as("stop_ratio"),
      (size(array_distinct(t)).cast("double") / size(t)).as("ttr"))
    val scored = base.withColumn("quality", round(
      lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
        lit(0.3) * least(col("n_tokens").cast("double") / 100.0, lit(1.0)),
      6))
    filterCascade(scored, Seq(
      "too_short" -> (col("n_tokens") < 16),
      "low_stopword" -> (col("stop_ratio") < 0.015),
      "high_repetition" -> (col("ttr") < 0.32),
      "low_quality" -> (col("quality") < 0.62)))
      .orderBy("lang", "rule_idx")
  }

  /** UNIGRAM-LM TOKENIZER TRAINER (q119): the third member of the
    * trainer family — SentencePiece's default algorithm (Kudo, ACL 2018
    * "Subword Regularization"), alongside BPE (q104/q112) and WordPiece
    * (q107). Where BPE grows a vocabulary bottom-up by merging, unigram
    * starts from an over-complete SEED vocabulary (all frequent
    * substrings) and shrinks it: EM rounds re-estimate piece
    * probabilities from each word's VITERBI-best segmentation, then the
    * vocabulary is pruned to size (single characters protected — every
    * word must stay segmentable).
    *
    * Scale shape: the ONLY corpus-scale operation is the word-frequency
    * aggregate (identical to the BPE trainers); everything after —
    * substring explosion, seed ranking, the DP, the backtrace, the usage
    * recount — runs on vocabulary-sized tables (distinct words × ≤
    * maxWordLen² substring rows). The Viterbi DP is sequential only
    * within a word, so each EM round runs it as one fold per word
    * ([[viterbi]]): one shuffle groups each word's lattice into a row,
    * and the only lineage cut per round is the re-estimated vocabulary.
    *
    * Determinism/oracle parity: seed and usage counts are exact integer
    * sums; the DP's piece probabilities cnt/T and products dp·p are the
    * same IEEE doubles in both engines (max over a set is order-free;
    * argmax ties break on start position ascending), so DuckDB's
    * unrolled restatement must land on the identical segmentations,
    * counts, and hash. Words longer than
    * `maxWordLen` are dropped from training (documented truncation
    * policy; none exist in the fixture). */
  def q119UnigramTrain(spark: SparkSession, dir: String): DataFrame =
    unigramTrain(Tables(spark, dir, "documents"),
      maxPieceLen = 6, seedTop = 120, emRounds = 2, vocabSize = 40,
      maxWordLen = 16)

  def unigramTrain(docs: DataFrame, maxPieceLen: Int, seedTop: Int,
                   emRounds: Int, vocabSize: Int, maxWordLen: Int)
      : DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // Driver-value memo (the q104/q105 merge-list pattern): the EM loop
    // is a chain of sequential vocab-sized jobs (a few per round) whose
    // cost is job latency, not data — a bench repeat or a train+encode
    // pair should pay it once per session. Key = input plan + dials, so
    // a changed corpus trains fresh; dropped by [[graft.Artifacts.clear]].
    unigramVocab(docs, maxPieceLen, seedTop, emRounds, vocabSize, maxWordLen)
      .toDF("rank", "piece", "cnt").orderBy("rank")
  }

  private def unigramVocab(docs: DataFrame, maxPieceLen: Int, seedTop: Int,
                           emRounds: Int, vocabSize: Int, maxWordLen: Int)
      : Seq[(Long, String, Long)] =
    graft.Artifacts(docs,
      ("unigram", (maxPieceLen, seedTop, emRounds, vocabSize, maxWordLen)))(
      unigramTrainUncached(docs, maxPieceLen, seedTop, emRounds,
        vocabSize, maxWordLen))

  /** UNIGRAM ENCODER (q122): q119's serving side — the train/serve pair
    * the BPE family already has (q104/q105). The trained, pruned vocab
    * is the shipped artifact (here the session-memoized q119 result, so
    * train + encode share one training run); encoding is one Viterbi
    * fold per DISTINCT word under the artifact's piece probabilities
    * (zero-count protected chars carry p = 0 — any segmentation forced
    * through them scores 0.0 and resolves by the deterministic
    * start-position tie-break, so every word still segments), then the
    * corpus is crossed ONCE: exploded tokens join the vocab-sized
    * per-word piece-count table and aggregate per doc.
    *
    * Scale shape: the DP runs on the distinct-word lattice (vocabulary-
    * sized, the q119 posture: one grouped fold, no per-position join or
    * cut); the only corpus-scale operations are the token explode and
    * the per-doc aggregate, with the word → piece count map riding a
    * broadcast-sized join. Same maxWordLen domain as
    * training (overlong words are outside the tokenizer's contract). */
  def q122UnigramEncode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables(spark, dir, "documents")
    val vocabRows = unigramVocab(docs, 6, 120, 2, 40, 16)
    // The word → piece-count dictionary is part of the compiled
    // tokenizer (production encoders precompile frequent-word
    // segmentations exactly like this) — vocab-sized driver values,
    // memoized next to the trained vocab so repeated encodes pay the
    // DP once per session.
    val npRows = graft.Artifacts(docs, ("unigram-pieces", (6, 120, 2, 40, 16))) {
      val tTotal = vocabRows.map(_._3).sum
      val pTab = vocabRows.map { case (_, piece, cnt) =>
        (piece, cnt.toDouble / tTotal.toDouble)
      }.toDF("piece", "p")
      viterbi(wordLattice(docs, 6, 16).join(broadcast(pTab), "piece")
          .select("w", "freq", "i", "j", "p"))
        .groupBy("w").agg(count(lit(1)).as("n_pieces"))
        .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    }
    val nPieces = npRows.toDF("w", "n_pieces")
    tokenizedDocs(docs)
      .select(col("doc_id"), explode(col("toks")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= 16)
      .join(broadcast(nPieces), "w")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
        sum("n_pieces").as("n_pieces"),
        sum(length(col("w"))).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  /** The word-frequency table's substring lattice — the shared front
    * half of the unigram trainer (q119) and encoder (q122). */
  private def wordLattice(docs: DataFrame, maxPieceLen: Int,
                          maxWordLen: Int): DataFrame = {
    val words = tokenizedDocs(docs)
      .select(explode(col("toks")).as("w"))
      .filter(length(col("w")) > 0 && length(col("w")) <= maxWordLen)
      .groupBy("w").agg(count(lit(1)).as("freq"))
    // All (word, start, end, piece) substring rows up to maxPieceLen —
    // vocab-sized × L², the E-step's candidate lattice. Cut eagerly: a
    // lazy cut is first computed by several concurrent stages, and a late
    // task then reports metrics of a plan already collected
    // ("non-existent accumulator").
    cut("wordLattice.wsub", words
      .select(col("w"), col("freq"),
        explode(sequence(lit(0), length(col("w")) - 1)).as("i"))
      .select(col("w"), col("freq"), col("i"),
        explode(sequence(lit(1),
          least(lit(maxPieceLen), length(col("w")) - col("i")))).as("l"))
      .select(col("w"), col("freq"), col("i"), (col("i") + col("l")).as("j"),
        expr("substr(w, i + 1, l)").as("piece")), eager = true)
  }

  /** One Viterbi pass over every word of the `piw` lattice ((w, freq, i,
    * j, p) rows) as one fold per word, emitting a (w, freq, piece) row
    * per segment — the shared E-step of q119 and q122's encode. Each
    * word's candidates are collected into one row; the forward DP and
    * the backtrace are `aggregate`s over its positions.
    *
    * `dp(j)` is (sc, nb): the best score ending at j and MINUS its last
    * piece's start, so `array_max` keeps the highest score and, on an
    * exact tie, the lowest start (the oracle's `ORDER BY sc DESC, i`).
    * A null `dp(j)` is unreachable; a word whose end is unreachable
    * emits no piece. Scores are the oracle's IEEE products dp(i)·p. */
  private[graft] def viterbi(piw: DataFrame): DataFrame = {
    val len = length(col("w"))
    val dp0 = array(struct(lit(1.0).as("sc"), lit(1).as("nb")))
      .cast("array<struct<sc:double,nb:int>>") // elements may be null
    val forward = aggregate(sequence(lit(1), len), dp0, (dp, j) => {
      val ends = filter(col("cands"),
        c => c("j") === j && dp.getItem(c("i")).isNotNull)
      concat(dp, array(array_max(transform(ends, c => struct(
        (dp.getItem(c("i"))("sc") * c("p")).as("sc"), (-c("i")).as("nb"))))))
    })
    val backtrace = aggregate(sequence(lit(1), len),
      struct(len.as("pos"), array().cast("array<string>").as("pieces")),
      (s, _) => {
        val back = -col("dp").getItem(s("pos"))("nb")
        when(s("pos") > 0, struct(back.as("pos"), concat(s("pieces"),
          array(col("w").substr(back + 1, s("pos") - back))).as("pieces")))
          .otherwise(s)
      }, s => s("pieces"))
    piw.groupBy("w", "freq").agg(collect_list(struct("j", "i", "p")).as("cands"))
      .select(col("w"), col("freq"), forward.as("dp"))
      .filter(col("dp").getItem(len).isNotNull)
      .select(col("w"), col("freq"), explode(backtrace).as("piece"))
  }

  private def unigramTrainUncached(docs: DataFrame, maxPieceLen: Int,
                                   seedTop: Int, emRounds: Int,
                                   vocabSize: Int, maxWordLen: Int)
      : Seq[(Long, String, Long)] = {
    val wsub = wordLattice(docs, maxPieceLen, maxWordLen)
    val seeds = wsub.groupBy("piece").agg(sum("freq").as("cnt"))
    val chars = seeds.filter(length(col("piece")) === 1)
    // `piece` is unique in every ranked table, so this order is total.
    def ranked(d: DataFrame) = d.orderBy(desc("cnt"), asc("piece"))
    var vocab = cut("unigramTrainUncached.vocab",
      ranked(seeds).limit(seedTop).union(chars).distinct())
    for (_ <- 1 to emRounds) {
      val tot = vocab.agg(sum("cnt").as("t")).limit(1)
      val pTab = vocab.crossJoin(broadcast(tot))
        .select(col("piece"),
          (col("cnt").cast("double") / col("t").cast("double")).as("p"))
      val usage = viterbi(wsub.join(pTab, "piece")
          .select("w", "freq", "i", "j", "p"))
        .groupBy("piece").agg(sum("freq").as("cnt"))
      // Unused single chars stay at count 0 — reachability is never
      // sacrificed to the EM (a zero-probability char still segments an
      // otherwise-uncoverable word, ties broken deterministically).
      vocab = cut("unigramTrainUncached.vocab", usage
        .unionByName(chars.select(col("piece"), lit(0L).as("cnt"))
          .join(usage.select(col("piece")), Seq("piece"), "left_anti")))
    }
    val top = ranked(vocab).limit(vocabSize)
    val pruned = top.unionByName(chars.select("piece")
      .join(top.select("piece"), Seq("piece"), "left_anti")
      .join(vocab, "piece"))
    ranked(pruned).collect().toSeq.zipWithIndex.map { case (r, k) =>
      (k + 1L, r.getString(0), r.getLong(1))
    }
  }

  /** TRIGRAM STUPID-BACKOFF LM SCORE (q118): the production form of the
    * q95 fluency signal — CCNet-style pipelines score a crawl under an
    * n-gram model trained on a REFERENCE corpus (KenLM on Wikipedia), so
    * unseen n-grams are the norm and the model needs a backoff story.
    * Stupid backoff (Brants et al., EMNLP 2007 — "Large Language Models
    * in Machine Translation"): score a trigram at the deepest order that
    * has evidence,
    *
    *   S(w3|w1 w2) = c123/c12        when the trigram is in the model,
    *               = 0.4 · c23/c2    else when the (w2 w3) bigram is,
    *               = 0.4² · c3/N     else (0 for OOV w3),
    *
    * here trained on the `lang = 'en'` slice and scoring EVERY document —
    * the cross-lingual docs exercise all three tiers on the fixture.
    *
    * Arithmetic: q95's integer-ppm recipe extended per tier — tier
    * constants fold into the ppm scale (1 000 000 / 400 000 / 160 000),
    * every per-position score is one integer floor-division, and the doc
    * score is the integer mean, so partial-aggregate merge order cannot
    * perturb the result and DuckDB must land on the identical hash.
    *
    * Scale shape: each n-gram order crosses the train slice once into a
    * model-sized count table (56-bit keys, never text); the scoring
    * stream crosses the corpus once and left-joins the three model
    * tables (tcnt on h123, bcnt on h12 AND h23, ucnt on h2 AND h3) —
    * stream × aggregated-model joins, broadcastable at production model
    * sizes; the corpus never self-joins. N rides a 1-row broadcast. */
  def q118TrigramLmScore(spark: SparkSession, dir: String): DataFrame =
    trigramBackoffScore(tokenizedDocs(Tables(spark, dir, "documents")),
      col("lang") === "en").orderBy("doc_id")

  /** The reusable operator behind q118: any (doc_id, ..., toks) frame +
    * a train-slice predicate. */
  def trigramBackoffScore(tok: DataFrame, isTrain: Column): DataFrame = {
    val train = tok.filter(isTrain)
    def triStream(df: DataFrame): DataFrame = {
      val t = col("toks")
      val n = size(t)
      df.filter(n >= 3)
        .select(col("doc_id"), explode(zip_with(
          slice(t, lit(1), n - 2),
          zip_with(slice(t, lit(2), n - 2), slice(t, lit(3), n - 2),
            (b, c) => struct(b.as("b"), c.as("c"))),
          (a, bc) => {
            val b = bc.getField("b"); val c = bc.getField("c")
            struct(
              md5Long(concat_ws(" ", a, b, c), 14).as("h123"),
              md5Long(concat_ws(" ", a, b), 14).as("h12"),
              md5Long(concat_ws(" ", b, c), 14).as("h23"),
              md5Long(b, 14).as("h2"),
              md5Long(c, 14).as("h3"))
          })).as("g"))
        .select(col("doc_id"), col("g.*"))
    }
    // The backoff model tables are each joined into the scoring stream
    // TWICE (bcnt on h12 and h23, ucnt on h2 and h3) — uncut, each join
    // reference re-ran the train-slice n-gram explode + aggregation
    // (the two references canonicalize differently under the renames,
    // so exchange reuse misses). All are model-sized: one lazy lineage
    // cut each builds every model table exactly once (r20, guide §1.2).
    val tcnt = cut("trigramBackoffScore.tcnt", triStream(train).groupBy("h123")
      .agg(count(lit(1)).as("c123")))
    val bcnt = cut("trigramBackoffScore.bcnt", bigramModelKeys(train))
    val uni = train.select(explode(col("toks")).as("w"))
      .select(md5Long(col("w"), 14).as("h"))
    val ucnt = cut("trigramBackoffScore.ucnt",
      uni.groupBy("h").agg(count(lit(1)).as("cu")))
    // N = Σ_h c(h): the same integer as count(uni), read from the cut
    // model table instead of a second train-slice explode.
    val nTotal = ucnt.agg(coalesce(sum("cu"), lit(0L)).as("n_train")).limit(1)
    val scoredPos = triStream(tok)
      .join(tcnt, Seq("h123"), "left")
      .join(bcnt.select(col("h12"), col("cb").as("c12")), Seq("h12"), "left")
      .join(bcnt.select(col("h12").as("h23"), col("cb").as("c23")),
        Seq("h23"), "left")
      .join(ucnt.select(col("h").as("h2"), col("cu").as("c2")), Seq("h2"), "left")
      .join(ucnt.select(col("h").as("h3"), col("cu").as("c3")), Seq("h3"), "left")
      .crossJoin(broadcast(nTotal))
      .select(col("doc_id"),
        when(col("c123").isNotNull, lit(3L))
          .when(col("c23").isNotNull, lit(2L)).otherwise(lit(1L)).as("tier"),
        when(col("c123").isNotNull, expr("(c123 * 1000000) div c12"))
          .when(col("c23").isNotNull, expr("(c23 * 400000) div c2"))
          .otherwise(expr("(coalesce(c3, 0) * 160000) div n_train"))
          .as("p_ppm"))
    scoredPos.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        sum(when(col("tier") === 3, 1L).otherwise(0L)).as("n_hit3"),
        sum(when(col("tier") === 2, 1L).otherwise(0L)).as("n_hit2"),
        sum(when(col("tier") === 1, 1L).otherwise(0L)).as("n_hit1"),
        expr("sum(p_ppm) div count(1)").as("score_ppm"))
  }

  /** Bigram occurrence counts keyed h12 only (q118's backoff tables —
    * [[bigramPairs]] carries the (h12, h1) pair for q95's conditional). */
  private def bigramModelKeys(df: DataFrame): DataFrame = {
    val t = col("toks")
    val n = size(t)
    df.filter(n >= 2)
      .select(explode(zip_with(
        slice(t, lit(1), n - 1), slice(t, lit(2), n - 1),
        (a, b) => md5Long(concat_ws(" ", a, b), 14))).as("h12"))
      .groupBy("h12").agg(count(lit(1)).as("cb"))
  }

  /** DETERMINISTIC SPLIT ASSIGNMENT (q123): the train/val/test split as
    * a FUNCTION OF THE DOCUMENT ID, not a random draw — the property
    * every training pipeline leans on: re-running the pipeline, adding
    * documents, or re-partitioning the corpus never moves an existing
    * document across splits (a doc that silently migrates from test to
    * train contaminates every downstream eval number). Assignment:
    * hash bucket = first 8 md5 nibbles of "split:<doc_id>" mod 100 —
    * salted so the bucket is independent of q49/q116's draws over the
    * same ids — with 90/5/5 train/val/test. Map-only, zero shuffles
    * before the contract ORDER BY; the realized per-split fractions are
    * the spec'd audit (hash uniformity makes them concentrate at the
    * targets), and q51/q113 decontamination runs WITHIN this frame:
    * split first, then scrub train against the held-out text. */
  def q123SplitAssign(spark: SparkSession, dir: String): DataFrame =
    splitAssign(Tables(spark, dir, "documents"), 90, 95)

  def splitAssign(docs: DataFrame, trainPct: Int, valPct: Int): DataFrame =
    docs.select(col("doc_id"),
        (conv(substring(md5(concat(lit("split:"), col("doc_id").cast("string"))),
          1, 8), 16, 10).cast("long") % 100L).as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < trainPct, lit("train"))
          .when(col("bucket") < valPct, lit("val"))
          .otherwise(lit("test")).as("split"))
      .orderBy("doc_id")

  /** DSIR-STYLE IMPORTANCE SELECTION (q120): domain-targeted data
    * selection — rank the corpus by how much MORE a document resembles
    * the target domain than its own source typicality, and keep the
    * top-n. The shape of DSIR (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): hashed n-gram LM
    * features, a target-vs-raw model contrast, selection by importance.
    * Two documented deviations keep it bit-exact cross-engine: the
    * importance score is the DIFFERENCE of the two models' integer-ppm
    * per-position means (a linear-space surrogate for the log-likelihood
    * ratio — same machinery, no cross-engine `ln`), and selection is the
    * deterministic top-n rather than Gumbel resampling (the sampling
    * variant is this query + q116's hash-uniform priority draw over
    * `exp(importance)` weights).
    *
    * Composition: BOTH scores are [[trigramBackoffScore]] — the target
    * model trained on the `lang = 'en'` reference slice (q118's model),
    * the raw model on the full corpus (where every trigram hits tier 3,
    * the q95 self-scoring regime). The corpus streams are shared; model
    * tables are vocabulary-bounded; the final cut is a TakeOrdered
    * top-n, never a global sort. */
  def q120ImportanceSelect(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokenizedDocs(Tables(spark, dir, "documents"))
    // The two model arms (en-reference and raw-corpus) are independent:
    // each builds its own model-table cuts, which AQE materializes
    // eagerly at construction — sequentially, if built on one thread.
    // Forking the arms overlaps the two model builds (guide §2.6);
    // frames and results are identical, only the materialization
    // overlaps.
    val (target, raw) = fork { f =>
      val target = f("q120.target") {
        trigramBackoffScore(tok, col("lang") === "en")
          .select(col("doc_id"), col("score_ppm").as("target_ppm"))
      }
      val raw = f("q120.raw") {
        trigramBackoffScore(tok, lit(true))
          .select(col("doc_id"), col("score_ppm").as("raw_ppm"))
      }
      (target(), raw())
    }
    val joined = target.join(raw, "doc_id")
      .select(col("doc_id"), col("target_ppm"), col("raw_ppm"),
        (col("target_ppm") - col("raw_ppm")).as("importance_ppm"))
      .orderBy(desc("importance_ppm"), asc("doc_id"))
      .limit(100)
    joined
      .withColumn("rank", row_number().over(
        Window.orderBy(desc("importance_ppm"), asc("doc_id"))).cast("long"))
      .select("rank", "doc_id", "target_ppm", "raw_ppm", "importance_ppm")
      .orderBy("rank")
  }

  /** KMV DISTINCT SKETCH vs EXACT (q121): per-source distinct-shingle
    * cardinality through a K-MINIMUM-VALUES sketch (Bar-Yossef et al.
    * 2002; the mergeable-summaries form) next to the exact count — the
    * q57 two-pass discipline applied to approximate counting. Unlike
    * HLL (q18, engine-specific and rows-only-checked), KMV is
    * DETERMINISTIC given the hash: the k smallest distinct 56-bit
    * hashes are an order-free set, so the sketch output, the estimator
    * (k−1)·2^56/h_k, and its error are all oracle-checkable exactly.
    *
    * 100 TB shape: `graft_kmv_mins` is a native TypedImperativeAggregate
    * — each map task holds ≤ k longs whatever its input size, partials
    * merge associatively (KmvSpec pins sketch ≡ relational k-min under
    * every partitioning), so the sketch pass shuffles #partitions × k
    * longs instead of the distinct-hash universe the exact count must
    * move. The exact arm here is the certification, not the production
    * path. Estimator arithmetic: 255·2^56 is an 8-significant-bit
    * double (exactly representable), one IEEE division, one round —
    * bit-identical cross-engine; sources holding fewer than k distinct
    * hashes report exactly (est = held count). */
  def q121KmvDistinct(spark: SparkSession, dir: String): DataFrame = {
    val spark0 = spark
    graft.functions.KmvSketch.register(spark0)
    val k = 256
    val sh = tokenizedDocs(Tables(spark, dir, "documents"))
      .select(col("source"), explode(shingles(col("toks"))).as("sh"))
      .select(col("source"), md5Long(col("sh"), 14).as("h"))
    val sk = sh.groupBy("source")
      .agg(expr(s"graft_kmv_mins(h, $k)").as("mins"))
    val exact = sh.groupBy("source")
      .agg(countDistinct("h").as("exact_distinct"))
    sk.join(exact, "source")
      .select(col("source"),
        size(col("mins")).cast("long").as("k_held"),
        element_at(col("mins"), -1).as("kth_min"),
        col("exact_distinct"))
      .select(col("source"), col("k_held"), col("kth_min"),
        when(col("k_held") < k, col("k_held"))
          .otherwise(round(lit(255.0) * lit(72057594037927936.0) /
            col("kth_min").cast("double")).cast("long"))
          .as("est_distinct"),
        col("exact_distinct"))
      .withColumn("err_ppm",
        expr("abs((est_distinct - exact_distinct) * 1000000) div exact_distinct"))
      .orderBy("source")
  }

  /** BOTTOM-K QUANTILE SKETCH vs EXACT (q164): per-source n_chars
    * quartiles through the fourth native sketch — `graft_btk_pairs`
    * completes the quartet (q57 Misra–Gries = WHICH items are frequent,
    * q121 KMV = HOW MANY distinct, q136 CMS = HOW frequent, this = WHAT
    * DISTRIBUTION), the q121 two-pass discipline applied to quantiles.
    * The sketch keeps the k smallest DISTINCT (hash, value) pairs per
    * group — a deterministic bottom-k uniform sample (Cohen & Kaplan
    * 2007; mergeable per Agarwal et al.) — and quartiles are rank-picks
    * from the value-sorted sample at ⌈m·q⌉. Unlike KLL (randomized,
    * merge-order-dependent compactions) the retained set is a pure
    * function of the data, so DuckDB restates it relationally (DISTINCT
    * pairs → rank by (hash, value) → keep 64 → rank-pick) and the whole
    * output hash-matches — the property that makes an approximate-
    * quantile operator oracle-checkable at all.
    *
    * 100 TB shape: the sketch pass is a regular partial aggregation —
    * ≤ k pairs per map task, #partitions × k merged per group, one pass
    * — where the exact arm needs a per-group sort (or q152/q76's √n
    * two-level rank: two passes). The exact arm here is the
    * certification, not the production path; err_ppm is the measured
    * price of the one-pass answer (O(1/√k) per quantile — and the
    * estimate is EXACT whenever the group holds ≤ k distinct pairs,
    * QuantileSketchSpec's small-group pin). */
  def q164QuantileSketch(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.QuantileSketch.register(spark)
    val k = 64
    val docs = Tables(spark, dir, "documents")
    val hv = md5Long(concat(lit("btk:"), col("doc_id").cast("string")), 14)
    val sk = docs
      .select(col("source"), hv.as("hv"), col("n_chars"))
      .groupBy("source")
      .agg(expr(s"graft_btk_pairs(hv, n_chars, $k)").as("pairs"),
        count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        size(col("pairs")).as("m"),
        expr("array_sort(transform(pairs, p -> p.v))").as("vs"))
    def pick(pct: Int): Column =
      element_at(col("vs"), expr(s"(m * $pct + 99) div 100").cast("int"))
    val est = sk.select(col("source"), col("n_docs"),
      col("m").cast("long").as("m"),
      pick(25).as("p25_est"), pick(50).as("p50_est"), pick(75).as("p75_est"))
    // Certification arm: exact quartiles by per-source rank (the cost
    // the sketch avoids at scale).
    val w = Window.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))
    val ranked = docs.select(col("source"), col("n_chars"), col("doc_id"))
      .withColumn("r", row_number().over(w).cast("long"))
      .withColumn("cnt", count(lit(1))
        .over(Window.partitionBy("source")))
    def exact(pct: Int): Column =
      max(when(col("r") === expr(s"(cnt * $pct + 99) div 100"),
        col("n_chars"))).as(s"p${pct}_exact")
    val ex = ranked.groupBy("source")
      .agg(exact(25), exact(50), exact(75))
    est.join(ex, "source")
      .withColumn("err_ppm",
        expr("abs((p50_est - p50_exact) * 1000000) div p50_exact"))
      .orderBy("source")
  }

  /** SKETCH ROLLUP (q167): per-shard bottom-k sketches RE-AGGREGATED to
    * the global sketch without touching raw data — the property that
    * makes a sketch a warehouse artifact rather than a query-local
    * trick (Agarwal et al., "Mergeable Summaries": build per
    * shard/day/partition once, answer corpus-wide questions from the
    * stored sketches forever). Each q150-style shard holds its own
    * `graft_btk_pairs` sample of n_chars; the rollup explodes the
    * STORED pair arrays and re-selects bottom-k over them — provably
    * equal to the direct global sketch, because any pair in the global
    * bottom-k ranks ≤ k within its own shard (fewer competitors), so
    * the union of per-shard bottom-k's contains the global bottom-k.
    * The DuckDB oracle computes the DIRECT global bottom-k: a hash
    * match is the cross-engine proof of mergeability, not just a
    * Spark-side assertion (QuantileSketchSpec pins the Spark-side
    * equality too).
    *
    * 100 TB shape: the rollup reads 8 × k pairs — bytes — where the
    * direct global answer would re-scan the corpus; this is how a
    * production pipeline answers "what's the corpus length
    * distribution" daily from per-shard artifacts written once. */
  def q167SketchRollup(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.QuantileSketch.register(spark)
    val k = 64
    val docs = Tables(spark, dir, "documents")
    val hv = md5Long(concat(lit("btk:"), col("doc_id").cast("string")), 14)
    val shard = md5Long(concat(lit("seed42:"), col("doc_id").cast("string")),
      14) % 8
    // The stored per-shard artifacts (one pass over the corpus).
    val perShard = docs
      .select(shard.as("shard"), hv.as("hv"), col("n_chars"))
      .groupBy("shard")
      .agg(expr(s"graft_btk_pairs(hv, n_chars, $k)").as("pairs"))
    // Rollup: re-aggregate the stored pairs — 8 × k rows, no raw data.
    val global = perShard
      .select(explode(col("pairs")).as("p"))
      .select(col("p").getField("h").as("hv"), col("p").getField("v").as("v"))
      .agg(expr(s"graft_btk_pairs(hv, v, $k)").as("pairs"))
      .select(lit("global").as("scope"), col("pairs"))
    val all = perShard
      .select(col("shard").cast("string").as("scope"), col("pairs"))
      .unionByName(global)
    def pick(pct: Int): Column =
      element_at(col("vs"), expr(s"(m * $pct + 99) div 100").cast("int"))
    all
      .select(col("scope"), size(col("pairs")).as("m"),
        expr("array_sort(transform(pairs, p -> p.v))").as("vs"))
      .select(col("scope"), col("m").cast("long").as("m"),
        pick(25).as("p25_est"), pick(50).as("p50_est"),
        pick(75).as("p75_est"))
      .orderBy("scope")
  }

  /** POISSON BOOTSTRAP CONFIDENCE INTERVALS (q170): percentile CIs for
    * the per-source mean document length — the statistical-significance
    * layer an eval pipeline needs before trusting any per-slice metric
    * delta ("is source A really longer than B, or is that noise?").
    * Classic bootstrap resampling is a COORDINATED multinomial draw —
    * impossible to distribute; the Poisson bootstrap (Chamandy et al.,
    * Google 2012, "Estimating uncertainty for massive data streams")
    * replaces it with an INDEPENDENT Poisson(1) count per (row,
    * replicate): one map over the corpus, no coordination, provably the
    * same limiting distribution. Here even the Poisson draw is
    * deterministic and engine-exact: u = 56-bit md5 of (replicate,
    * doc_id), count = the inverse-CDF CASE ladder over PRECOMPUTED
    * integer thresholds (floor(CDF_Poisson(1)(k) · 2^56) — no runtime
    * exp/random anywhere), so the full CI table hash-matches DuckDB.
    *
    * B = 200 replicates; percentile CI at ranks ⌈0.025·B⌉ / ⌈0.975·B⌉
    * of the value-sorted replicate means (integer ppm means, positive
    * operands, `div`-safe).
    *
    * 100 TB shape: the corpus pass is ONE projection exploded ×B
    * (map-only — no shuffle carries the ×B) into a (source, replicate)
    * partial aggregate; everything after is sources × B rows. This is
    * exactly how planet-scale A/B pipelines bootstrap. */
  def q170BootstrapCi(spark: SparkSession, dir: String): DataFrame =
    bootstrapCi(Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars")), 200)

  /** Poisson(1) inverse-CDF thresholds at 2^56 scale:
    * floor(P(X ≤ k) · 2^56) for k = 0..7; u below threshold k (first
    * match) draws count k, else 8 (P ≈ 1.1e-6 — the ladder cap). */
  private val poissonLadder: Seq[Long] = Seq(
    26508507426831584L, 53017014853663168L, 66271268567078960L,
    70689353138217560L, 71793874281002208L, 72014778509559136L,
    72051595880985288L, 72056855505474736L)

  /** The shared replicate-mean table behind q170/q174: (source, b,
    * mean_u) for b = 0..B−1 — the deterministic Poisson(1) draw and
    * integer ppm replicate means, factored so the delta CI composes on
    * the IDENTICAL draws the per-arm CI used. */
  private def bootstrapRepMeans(docs: DataFrame,
                                nReplicates: Int): DataFrame = {
    val u = md5Long(concat(lit("boot:"), col("b").cast("string"),
      lit(":"), col("doc_id").cast("string")), 14)
    val cnt = poissonLadder.zipWithIndex
      .foldLeft(Option.empty[Column]) { case (acc, (t, k)) =>
        Some(acc.fold(when(u < t, k.toLong))(_.when(u < t, k.toLong)))
      }.get.otherwise(lit(8L))
    docs
      .select(col("source"), col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(nReplicates - 1))).as("b"))
      .withColumn("cnt", cnt)
      .groupBy("source", "b")
      .agg(sum(col("cnt") * col("n_chars")).as("ws"), sum("cnt").as("w"))
      .filter(col("w") > 0) // a zero-weight replicate has no mean
      // ppm scaling in decimal(38,0): DuckDB computes the oracle in
      // HUGEINT, and a Long `ws * 1000000` would wrap once a source's
      // weighted char total passes ~9.2e12 — decimal keeps the two
      // engines exactly equal out to 1e32 chars (div returns Long, so
      // the output schema is unchanged; the mean itself always fits).
      .select(col("source"), col("b"),
        expr("cast(ws as decimal(38,0)) * 1000000 div w").as("mean_u"))
  }

  /** The reusable bootstrap behind q170 over any (source, doc_id,
    * n_chars) frame; public so BootstrapSpec can pin determinism,
    * Poisson concentration, CI coverage, and the 1/√n width law. */
  def bootstrapCi(docs: DataFrame, nReplicates: Int): DataFrame = {
    val repMeans = bootstrapRepMeans(docs, nReplicates)
    val wRank = Window.partitionBy("source").orderBy(col("mean_u"), col("b"))
    val ranked = repMeans
      .withColumn("r", row_number().over(wRank).cast("long"))
      .withColumn("nb", count(lit(1))
        .over(Window.partitionBy("source")))
    val ci = ranked.groupBy("source").agg(
      max(when(col("r") === expr("(nb * 25 + 999) div 1000"),
        col("mean_u"))).as("ci_lo_u"),
      max(when(col("r") === expr("(nb * 975 + 999) div 1000"),
        col("mean_u"))).as("ci_hi_u"),
      max("nb").as("n_replicates"))
    val point = docs.groupBy("source")
      .agg(expr("cast(sum(n_chars) as decimal(38,0)) * 1000000 div count(*)")
        .as("point_mean_u"))
    point.join(ci, "source")
      .select(col("source"), col("point_mean_u"), col("ci_lo_u"),
        col("ci_hi_u"), col("n_replicates"))
      .orderBy("source")
  }

  /** BOOTSTRAP DELTA CIs (q174): percentile CIs on the DIFFERENCE of
    * per-source mean document length for EVERY unordered source pair —
    * the decision A/B pipelines actually make: a per-arm CI (q170)
    * says "how noisy is each number"; the delta CI whose interval
    * excludes zero is the significance verdict ("is A really longer
    * than B"). Per replicate b, the pair's delta is the difference of
    * the two arms' replicate means UNDER THE SAME b (the standard
    * bootstrap-of-difference: arms are disjoint doc sets, so the
    * Poisson draws stay independent while the replicate index pairs
    * the means); the CI is the rank-picked percentile of the
    * value-sorted deltas, with `significant` = interval excludes 0.
    * Deltas are SIGNED — they are pure subtractions of ppm integers,
    * so no integer division ever sees a negative operand (the
    * div-sign discipline).
    *
    * 100 TB shape: the corpus pass is [[bootstrapRepMeans]]'s — one
    * map-only ×B explode into a (source, replicate) partial aggregate,
    * shared with q170; everything after is sources² × B rows (arms are
    * thousands when corpora are billions). */
  def q174BootstrapDeltaCi(spark: SparkSession, dir: String): DataFrame =
    bootstrapDeltaCi(Tables(spark, dir, "documents")
      .select(col("source"), col("doc_id"), col("n_chars")), 200)

  /** The reusable delta bootstrap behind q174 over any (source, doc_id,
    * n_chars) frame; public so BootstrapSpec can pin the paired-width
    * law and the significance verdict on planted separations. */
  def bootstrapDeltaCi(docs: DataFrame, nReplicates: Int): DataFrame = {
    val rm = cut("bootstrapDeltaCi.rm",
      bootstrapRepMeans(docs, nReplicates), eager = true)
    val pairs = rm.as("x").join(rm.as("y"),
        col("x.b") === col("y.b") && col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        col("x.b").as("b"), (col("x.mean_u") - col("y.mean_u")).as("delta_u"))
    val wRank = Window.partitionBy("source_a", "source_b")
      .orderBy(col("delta_u"), col("b"))
    val ranked = pairs
      .withColumn("r", row_number().over(wRank).cast("long"))
      .withColumn("nb", count(lit(1))
        .over(Window.partitionBy("source_a", "source_b")))
    val ci = ranked.groupBy("source_a", "source_b").agg(
      max(when(col("r") === expr("(nb * 25 + 999) div 1000"),
        col("delta_u"))).as("ci_lo_u"),
      max(when(col("r") === expr("(nb * 975 + 999) div 1000"),
        col("delta_u"))).as("ci_hi_u"),
      max("nb").as("n_replicates"))
    val point = docs.groupBy("source")
      .agg(expr("cast(sum(n_chars) as decimal(38,0)) * 1000000 div count(*)")
        .as("pm"))
    val pd = point.as("x").join(point.as("y"),
        col("x.source") < col("y.source"))
      .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
        (col("x.pm") - col("y.pm")).as("point_delta_u"))
    pd.join(ci, Seq("source_a", "source_b"))
      .select(col("source_a"), col("source_b"), col("point_delta_u"),
        col("ci_lo_u"), col("ci_hi_u"), col("n_replicates"),
        when(col("ci_lo_u") > 0 || col("ci_hi_u") < 0, 1L).otherwise(0L)
          .as("significant"))
      .orderBy("source_a", "source_b")
  }

  /** PARAGRAPH-LEVEL BOILERPLATE REMOVAL + DOC RECONSTRUCTION (q115):
    * the CCNet/RefinedWeb curation stage the dedup family still lacked —
    * drop every PARAGRAPH that appears verbatim in more than one
    * document (navigation chrome, license blocks, cookie banners — the
    * shared-across-docs text that survives doc-level dedup because its
    * carrier documents differ), then REBUILD each document from its
    * surviving paragraphs in order. Sits between q20 (whole-doc exact)
    * and q93/q96 (arbitrary-substring): the unit is a fixed segmentation,
    * so one corpus-wide hash aggregate decides every cut — no
    * position-level island merge needed.
    *
    * Scale shape: paragraphs are the q77 chunk idiom at stride = width
    * (disjoint, so concatenation reconstructs); the only corpus-scale
    * exchanges are the 32-byte paragraph-hash groupBy and its left-anti
    * back-join; reassembly is a per-doc aggregate whose groups are
    * bounded by document length (collect_list + array_sort over ≤
    * len/32 structs — the q96 per-doc-array posture). Docs that lose
    * every paragraph (exact dups of another doc) survive as empty rows —
    * the verdict a downstream length filter acts on, kept explicit via
    * the left join from the full corpus. */
  def q115ParagraphDedup(spark: SparkSession, dir: String): DataFrame =
    paragraphDedup(tokenizedDocs(Tables(spark, dir, "documents")),
      para = 32, maxDocs = 1).orderBy("doc_id")

  /** The reusable operator behind q115: any (doc_id, ..., toks) frame →
    * (doc_id, n_paras, kept_paras, clean_text). A paragraph is a
    * `para`-token disjoint window; a paragraph text is boilerplate when
    * its exact content occurs in more than `maxDocs` distinct docs. */
  def paragraphDedup(tok: DataFrame, para: Int, maxDocs: Int): DataFrame = {
    val t = col("toks")
    // Guard: size(t)=0 would make sequence(0, -1) auto-step DESCENDING
    // ([0,-1]) and mint a bogus pid. Unreachable via tokenizedDocs
    // (split never yields an empty array) but this is a reusable
    // operator — empty docs contribute no paragraphs and fall out of
    // the final left join as (n_paras=0, kept=0, "").
    val paras = tok.filter(size(t) > 0)
      .select(col("doc_id"),
        explode(sequence(lit(0),
          floor((size(t) - 1) / para).cast("int"))).as("pid"), t)
      .select(col("doc_id"), col("pid").cast("long").as("pid"),
        concat_ws(" ", slice(t, col("pid") * para + 1, lit(para))).as("para"))
      .withColumn("ph", md5(col("para")))
    val boiler = paras.groupBy("ph")
      .agg(countDistinct("doc_id").as("df"))
      .filter(col("df") > maxDocs)
      .select("ph")
    val rebuilt = paras.join(boiler, Seq("ph"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept_paras"),
        expr("array_join(transform(array_sort(collect_list(struct(pid, para))), x -> x.para), ' ')")
          .as("clean_text"))
    tok.select(col("doc_id"),
        (floor((size(t) - 1) / para) + 1).cast("long").as("n_paras"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("kept_paras"), lit(0L)).as("kept_paras"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** WEIGHTED SAMPLE WITHOUT REPLACEMENT via PRIORITY SAMPLING (q116):
    * draw a 100-doc sample with inclusion probability proportional to
    * token count — the curation move behind "sample 10 B tokens from
    * this 10 T-token source" when doc-proportional sampling would bias
    * toward short documents. Priority sampling (Duffield–Lund–Thorup,
    * JACM 2007): each item gets priority w/u for u uniform in (0,1], the
    * top-k priorities are the sample. One corpus pass, ZERO shuffles:
    * the priority is map-only arithmetic and the top-k plans as
    * TakeOrderedAndProject (per-partition partial top-100, driver merges
    * partitions×100 rows — at 1000 executors that is 100k rows on the
    * driver, not the corpus).
    *
    * Determinism/oracle parity: u is hash-derived (first 8 md5 nibbles
    * of the doc_id string, +1 to dodge zero → exact integer in
    * [1, 2^32]), and the priority w·2^32/u is a single IEEE division of
    * exact-integer-valued doubles — bit-identical cross-engine, so the
    * selected SET and the rounded output column both hash-match. */
  /** MODEL-BASED QUALITY CLASSIFIER (q125): the one standard curation
    * stage heuristics (q103) and LM contrast (q120) don't cover — a
    * TRAINED document classifier, the CCNet/DCLM move (fastText in
    * CCNet, logistic models in DCLM: score every crawl doc by "does it
    * look like the reference corpus"). Here: a hashed-feature INTEGER
    * batch perceptron with weight averaging (Freund & Schapire 1999's
    * averaged perceptron, the standard stabilization), labels from the
    * corpus's own `lang` slice (y = +1 for the reference language 'en',
    * −1 otherwise — exactly the fastText lang-filter setup).
    *
    * Training, unrolled like q119's EM rounds so the oracle restates
    * each epoch as MATERIALIZED CTEs:
    *   - features x(doc) = bag of hashed token counts (fid = 32-bit
    *     md5 of the token mod `dims`) + a constant bias feature
    *     (fid = dims);
    *   - epoch e: misclassified = {doc : y·⟨w_{e−1}, x⟩ ≤ 0} under the
    *     previous weights (w_0 = 0, so epoch 1 updates on every doc);
    *     w_e = w_{e−1} + Σ_misclassified y·x — ONE corpus-pass gradient
    *     aggregate per epoch whose output is the ≤ dims+1-row weight
    *     table, collected as the trainer artifact (the q104 argmax
    *     class);
    *   - shipped model = Σ_e w_e (the averaged perceptron's weight sum —
    *     sign-equivalent to the average, kept as exact integers).
    *
    * ALL-INTEGER arithmetic end to end: counts, weights, scores and the
    * y·score ≤ 0 test are exact BIGINT sums (the q117 rational-
    * arithmetic recipe), so training and scoring are bit-identical
    * under ANY partitioning / merge order (PerceptronSpec pins
    * repartition-invariance) and cross-engine. Headroom: |w(fid)| ≤
    * epochs · corpus tokens and |score| ≤ doc tokens · max|w| — at
    * 10¹³ corpus tokens and 10⁵-token docs the score stays < 2⁶³.
    *
    * Scale shape: per epoch ONE corpus pass (map-only per-doc score via
    * a literal weight-map lookup — no join — then an explode + groupBy
    * whose output is dims-bounded, map-side combined); final scoring is
    * one more map-only pass. The corpus never self-joins; the model
    * table is a driver constant like every shipped tokenizer artifact,
    * memoized per (input plan, dials) and dropped by
    * [[graft.Artifacts.clear]].
    *
    * Honesty note on fixture accuracy: the synthetic fixture's lang
    * labels are token-independent by construction (measured: per-token
    * rates match across slices), so the registered query's accuracy
    * sits at the majority-class base rate — exactly what a correct
    * linear model does on a signal-free corpus. The LEARNING pin lives
    * in PerceptronSpec: on a lexically separable corpus the same
    * trainer reaches 100% accuracy in one epoch's worth of updates. */
  def q125QualityClassifier(spark: SparkSession, dir: String): DataFrame =
    perceptronScore(tokenizedDocs(Tables(spark, dir, "documents")),
      col("lang") === "en", dims = 256, epochs = 3).orderBy("doc_id")

  /** The reusable operator behind q125: any (doc_id, ..., toks) frame +
    * a positive-label predicate → per-doc (y, score, pred, correct)
    * under the averaged trained model. */
  def perceptronScore(tok: DataFrame, isPositive: Column, dims: Int,
                      epochs: Int): DataFrame = {
    val wAvg = trainedPerceptron(tok, isPositive, dims, epochs)
    val sc = perceptronScoreExpr(wAvg, dims)
    tok.select(col("doc_id"),
        when(isPositive, 1L).otherwise(-1L).as("y"), sc.as("score"))
      .withColumn("pred", when(col("score") > 0, 1L).otherwise(-1L))
      .withColumn("correct", col("pred") === col("y"))
  }

  /** The TRAINER ARTIFACT accessor: the memoized averaged-perceptron
    * weight table for (input plan, dials) — the driver-value model every
    * scorer (batch q125, streaming q130) ships as a literal. Public so a
    * stream can score under the batch-trained model: the production
    * deployment shape (train offline on the curated corpus, ship the
    * weight table to the ingest gate). */
  def trainedPerceptron(tok: DataFrame, isPositive: Column, dims: Int,
                        epochs: Int): Map[Long, Long] =
    // The label predicate is part of the key: q125/q130/q144 all train
    // lang='en' so omitting it was benign, but this is the public
    // train-once API — a second caller with a DIFFERENT predicate on
    // the same corpus must get its own model, not a silent cache hit.
    // Column.toString is the expression's rendered form — stable per
    // construction and distinct across distinct predicates (Spark 4's
    // Column no longer exposes the expression node directly).
    // The model is a driver value of ≤ dims+1 (fid → weight) longs.
    graft.Artifacts(tok, ("perceptron", isPositive.toString, dims, epochs))(
      trainPerceptron(tok, isPositive, dims, epochs))

  /** The q125 registered model (en-vs-rest, dims = 256, epochs = 3) for
    * `dir`'s corpus — shares q125's memo entry, so a session that runs
    * both q125 and q130 trains exactly once. */
  def q125Model(spark: SparkSession, dir: String): Map[Long, Long] =
    trainedPerceptron(tokenizedDocs(Tables(spark, dir, "documents")),
      col("lang") === "en", dims = 256, epochs = 3)

  /** Map-only per-doc score under a literal weight map: bias weight as
    * the fold seed, one hashed lookup per token — stays a pure column
    * expression (no join, no UDF). */
  private def perceptronScoreExpr(w: Map[Long, Long], dims: Int): Column =
    perceptronScoreOn(w, dims, col("toks"))

  /** [[perceptronScoreExpr]] over any token-array column — the scorer a
    * caller that tokenizes inline (a stream with no persisted token
    * table) applies to its own split. */
  def perceptronScoreOn(w: Map[Long, Long], dims: Int,
                        toksCol: Column): Column = {
    val wmap = typedlit(if (w.isEmpty) Map(-1L -> 0L) else w)
    aggregate(
      filter(toksCol, t => length(t) > 0),
      coalesce(element_at(wmap, lit(dims.toLong)), lit(0L)),
      (acc, t) => acc + coalesce(element_at(wmap, md5Long(t, 8) % dims),
        lit(0L)))
  }

  private def trainPerceptron(tok: DataFrame, isPositive: Column,
                              dims: Int, epochs: Int): Map[Long, Long] = {
    var w = Map.empty[Long, Long]
    var acc = Map.empty[Long, Long]
    for (_ <- 1 to epochs) {
      val fids = concat(
        transform(filter(col("toks"), t => length(t) > 0),
          t => md5Long(t, 8) % dims),
        array(lit(dims.toLong))) // the bias feature, once per doc
      val grad = tok
        .select(when(isPositive, 1L).otherwise(-1L).as("y"), col("toks"),
          perceptronScoreExpr(w, dims).as("score"))
        .filter(col("y") * col("score") <= 0)
        .select(col("y"), explode(fids).as("fid"))
        .groupBy("fid").agg(sum("y").as("g"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      w = (w.keySet ++ grad.keySet).iterator
        .map(k => k -> (w.getOrElse(k, 0L) + grad.getOrElse(k, 0L))).toMap
      acc = (acc.keySet ++ w.keySet).iterator
        .map(k => k -> (acc.getOrElse(k, 0L) + w.getOrElse(k, 0L))).toMap
    }
    acc
  }

  def q116WeightedSample(spark: SparkSession, dir: String): DataFrame = {
    val tok = tokenizedDocs(Tables(spark, dir, "documents"))
    val u = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") + lit(1L)
    tok.select(col("doc_id"), size(col("toks")).cast("long").as("weight"),
        u.as("u"))
      .select(col("doc_id"), col("weight"),
        (col("weight").cast("double") * lit(4294967296.0) /
          col("u").cast("double")).as("priority"))
      .orderBy(desc("priority"), asc("doc_id"))
      .limit(100)
      .select(col("doc_id"), col("weight"),
        round(col("priority"), 6).as("priority"))
      .orderBy(desc("priority"), asc("doc_id"))
  }

  /** CROSS-SOURCE OVERLAP MATRIX (q133): pairwise shared distinct
    * 3-shingle counts + Jaccard between every pair of sources — the
    * corpus-composition diagnostic that answers "which crawl snapshots /
    * feeds duplicate each other" BEFORE any doc-level dedup decision.
    * Production use: two sources with high vocabulary Jaccard are
    * versions of the same crawl (dedup them against each other first);
    * a source with near-zero overlap against everything is novel signal
    * (protect it in the mix). Complements q90 (distributional TV drift —
    * same-shape-different-text) with literal content overlap, and q51
    * (test-set decontamination) by measuring train-side inter-source
    * contamination pressure.
    *
    * Scale shape: the only corpus-sized exchange is the (source, h)
    * DISTINCT over the session shingle table's 56-bit hashes
    * ([[shingledHashed]]) — a fixed-width aggregate like q20's hash
    * groupBy. The pair join is keyed by the 8-byte hash with per-key
    * fanout bounded by #sources (each side holds a hash at most once per
    * source after the distinct), so candidate volume ≤ Σ_h df(h)² ≤
    * distinct shingles × #sources² — sources are a config-bounded
    * dimension (dozens), never a corpus-sized one. Output is #sources²
    * rows. The same plan at 100 TB: distinct-aggregate, equi-join,
    * 190-row result. Counting hashes equals counting shingle strings
    * unless two distinct shingles collide in 56 bits (q25's argument). */
  def q133SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    sourceOverlap(Tables(spark, dir, "documents"))

  /** The reusable operator behind q133: any (doc_id, source, text) frame
    * with unique doc_ids → one row per source pair (src_a < src_b) with
    * shared distinct 3-shingle count, each side's distinct count, and
    * Jaccard in ppm. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    // The (source, h) distinct feeds THREE consumers (both sides of the
    // pair self-join and the per-source totals); left uncut, each
    // reference re-runs the corpus explode + distinct (the two join
    // sides canonicalize differently, so exchange reuse misses) — r20
    // optimization (guide §1.2/§2.4): one lazy lineage cut materializes
    // it exactly once inside the first consumer's job.
    val g = cut("sourceOverlap.g",
      shingledHashed(docs).join(docs.select("doc_id", "source"), "doc_id")
        .select(col("source"), explode(col("hs")).as("h"))
        .distinct())
    val n = g.groupBy("source").agg(count(lit(1)).as("nsh"))
    val pairs = g.select(col("h"), col("source").as("src_a"))
      .join(g.select(col("h"), col("source").as("src_b")), Seq("h"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared"))
    pairs
      .join(n.select(col("source").as("src_a"), col("nsh").as("nsh_a")), Seq("src_a"))
      .join(n.select(col("source").as("src_b"), col("nsh").as("nsh_b")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared"),
        col("nsh_a"), col("nsh_b"),
        expr("shared * 1000000 div (nsh_a + nsh_b - shared)").as("jaccard_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** COUNT-MIN SKETCH vs EXACT (q136): point-frequency estimates for the
    * top-20 corpus tokens through a d=4 × w=256 count-min sketch
    * (Cormode & Muthukrishnan 2005) next to the exact counts — the q121
    * certification discipline (exact arm checks the sketch arm) applied
    * to the third classic mergeable summary. MG (q57) finds WHICH items
    * are frequent; KMV (q121) counts DISTINCT items; CMS answers "how
    * frequent is THIS item" for any item with one-sided ≤ e/w·N error.
    *
    * Determinism: the d bucket indices are plain md5 column expressions
    * (14 hex digits → 56-bit BIGINT, mod w) computed OUTSIDE the
    * aggregate, so the DuckDB oracle restates the identical arithmetic;
    * the native `graft_cms` aggregate only increments integer cells and
    * merges by elementwise addition — exactly reproducible under any
    * partitioning (CmsSpec pins it).
    *
    * 100 TB shape: the sketch pass is one map-side-combined aggregate
    * holding d·w = 1024 longs (8 KB) per task whatever the corpus; the
    * result is ONE row broadcast to the probe side. The exact arm (a
    * vocabulary-sized groupBy) is the certification, not the production
    * path — at scale you keep the sketch and drop the exact count. */
  def q136CmsFreq(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.CmsSketch.register(spark)
    val d = 4
    val w = 256
    def bkt(j: Int, c: Column): Column =
      md5Long(concat(lit(s"$j:"), c), 14) % w
    val words = tokenizedDocs(Tables(spark, dir, "documents"))
      .select(explode(col("toks")).as("w"))
      .filter(length(col("w")) > 0)
    val sketch = words
      .select(array((0 until d).map(j => bkt(j, col("w"))): _*).as("bkts"))
      .agg(expr(s"graft_cms(bkts, $d, $w)").as("cms"))
    val top = words.groupBy("w").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(desc("exact_cnt"), asc("w")).limit(20)
    top.crossJoin(broadcast(sketch))
      .select(col("w").as("token"), col("exact_cnt"),
        least((0 until d).map(j =>
          element_at(col("cms"),
            (lit(j * w) + bkt(j, col("w")) + 1).cast("int"))): _*)
          .as("cms_est"))
      .select(col("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") - col("exact_cnt")).as("overcount"))
      .orderBy(desc("exact_cnt"), asc("token"))
  }

  /** EDIT-DISTANCE-1 ENTITY-NAME JOIN (q138): approximate string
    * matching via DELETION NEIGHBORHOODS (the FastSS / SymSpell
    * construction) — the record-linkage / typo-unification primitive
    * the fuzzy-dedup family lacked: q66/q87 match token SETS (Jaccard),
    * q25 sketches them; this matches the STRINGS themselves, the "are
    * these two customer records the same entity" question. Every name
    * emits L+1 variants (itself + each single-char deletion); two
    * strings within Levenshtein distance 1 PROVABLY share a variant
    * (substitution at i ⇒ both-delete-i equal; insertion/deletion ⇒
    * the longer's deletion equals the shorter itself), so the variant
    * equi-join is a COMPLETE candidate generator and `levenshtein ≤ 1`
    * verifies — banded ≡ exhaustive, spec-proven (SymSpellSpec) like
    * q110/q126's pigeonhole. The fixture's TPC-H names differ in single
    * digit positions, exactly the near-duplicate-entity shape.
    *
    * Scale shape: the name dimension (not the corpus) fans out ×(L+1)
    * into fixed-width variants and self-joins on them — per-variant
    * fanout is how many names share a deletion (tens), NEVER all-pairs;
    * Σ_v df(v)² total candidates, a pathological variant hotspot is the
    * q89-probe / salting case. The final distinct + verify touch
    * candidate volume only. */
  def q138EditDistanceJoin(spark: SparkSession, dir: String): DataFrame =
    editDistance1Pairs(Tables(spark, dir, "customer")
      .select(col("c_custkey").as("k"), col("c_name").as("w")))
      .select(col("k_a").as("cust_a"), col("k_b").as("cust_b"),
        col("w_a").as("name_a"), col("w_b").as("name_b"))
      .orderBy("cust_a", "cust_b")

  /** The reusable operator behind q138: any (k, w) keyed-string frame →
    * all pairs (k_a < k_b) whose strings are within Levenshtein
    * distance 1, via the complete deletion-neighborhood candidate
    * generator + exact verify. An optional `block` column restricts
    * matches to equal-block pairs (the entity-resolution BLOCKING move —
    * it rides the variant join key, so cross-block candidates are never
    * even generated). */
  def editDistance1Pairs(names: DataFrame,
                         block: Option[Column] = None): DataFrame = {
    val keyed = names.withColumn("b",
      block.getOrElse(lit("")).cast("string"))
    // both sides of the variant self-join read this frame; a lazy
    // lineage cut evaluates the explode+distinct once, not per side
    // (r19 optimization — guide §1.2).
    val vars = cut("editDistance1Pairs.vars", keyed
      .select(col("k"), col("w"), col("b"),
        explode(sequence(lit(0), length(col("w")))).as("i"))
      .select(col("k"), col("w"),
        concat(col("b"), lit("|"),
          when(col("i") === 0, col("w"))
            .otherwise(concat(expr("substring(w, 1, i - 1)"),
              expr("substring(w, i + 1)")))).as("v"))
      .distinct())
    vars.select(col("v"), col("k").as("k_a"), col("w").as("w_a"))
      .join(vars.select(col("v"), col("k").as("k_b"),
        col("w").as("w_b")), Seq("v"))
      .filter(col("k_a") < col("k_b"))
      .select("k_a", "k_b", "w_a", "w_b").distinct()
      .filter(levenshtein(col("w_a"), col("w_b")) <= 1)
  }

  /** ENTITY-RESOLUTION CLUSTERS (q140): the end-to-end record-linkage
    * composition — MULTI-ATTRIBUTE match rule (name within Levenshtein 1
    * AND same 100-unit account-balance band, the Fellegi–Sunter
    * several-weak-signals posture) generates pairs through q138's
    * blocked deletion-neighborhood join, and q79's path-halving
    * connected components merge them into master-record clusters with a
    * canonical (min-key) representative — the golden-record election a
    * master-data pipeline ships.
    *
    * Why the band matters at scale: name-only Hamming-1 matching over a
    * dense id space percolates into one giant component (every id chain-
    * reaches every other — measured on this fixture); the second
    * attribute cuts expected degree below 1, so components stay
    * master-record-sized and the transitive closure (both engines') is
    * linear, not component-quadratic. The blocking key rides the
    * candidate join, so the band also bounds candidate volume.
    *
    * Scale shape: q138's variant join (dimension-sized, never
    * all-pairs) + q79's node-sized CC rounds — both previously
    * audited. */
  def q140EntityResolution(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer").select(
      col("c_custkey").as("k"), col("c_name").as("w"),
      floor(col("c_acctbal") / 100.0).cast("long").as("band"))
    val pairs = editDistance1Pairs(c, Some(col("band")))
      .select(col("k_a").as("doc_a"), col("k_b").as("doc_b"))
    dedupClusters(pairs)
      .select(col("doc_id").as("custkey"), col("cluster_id"),
        col("cluster_size"), col("is_canonical"))
      .orderBy("cluster_id", "custkey")
  }

  /** CONTENT-DEFINED CHUNKING STORAGE DEDUP (q141): the storage-layer
    * member of the dedup grid — where q20 dedups whole documents and
    * q93 dedups token spans, CDC dedups BYTE RANGES the way backup /
    * blob stores do (LBFS, FastCDC): chunk boundaries are placed where
    * a rolling content window hashes into a fixed bucket (here: the
    * 16-char window ending at position p, md5 → 56-bit → % 32 == 0 ⇒
    * expected ~32-char chunks), so an insertion early in a document
    * only reshapes the chunks it touches — boundaries downstream
    * re-synchronize because they depend on CONTENT, not offsets (the
    * property fixed-size blocking lacks, spec-pinned in CdcChunkSpec).
    * Per source: total chunk bytes vs distinct chunk bytes = the
    * storage dedup ratio a capacity planner reads.
    *
    * Scale shape: the position explode is corpus-linear (q93's
    * discipline — n_chars rows, map-generated); boundary selection is a
    * map-only filter; chunk spans need ONE doc_id window (lag over
    * boundary positions — partitions are document-sized); the dedup
    * aggregate groups fixed-width (source, chunk-hash) keys. No
    * all-pairs anything; the 100 TB posture is q20's hash-groupBy with
    * a content-defined key. */
  def q141CdcChunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"),
        lower(trim(col("text"))).as("txt"))
    val perChunk = cdcChunks(docs).select(col("source"),
      md5Long(col("chunk"), 14).as("h"),
      length(col("chunk")).cast("long").as("len"))
    val totals = perChunk.groupBy("source")
      .agg(count(lit(1)).as("n_chunks"), sum("len").as("total_bytes"))
    val uniq = perChunk.groupBy("source", "h")
      .agg(min(col("len")).as("len"))
      .groupBy("source")
      .agg(count(lit(1)).as("uniq_chunks"), sum("len").as("uniq_bytes"))
    totals.join(uniq, "source")
      .select(col("source"), col("n_chunks"), col("total_bytes"),
        col("uniq_chunks"), col("uniq_bytes"),
        expr("uniq_bytes * 1000000 div total_bytes").as("stored_ppm"))
      .orderBy("source")
  }

  /** The reusable chunker behind q141: (doc_id, source, txt) →
    * (doc_id, source, chunk) spans that tile each document, boundaries
    * where the trailing 16-char window hashes into bucket 0 of 32.
    * Sub-window (< 16-char, nonempty) documents are kept as a SINGLE
    * WHOLE CHUNK, the way a real store keeps them — the sequence lower
    * bound is least-clamped to n so it never descends (the
    * paragraphDedup lesson) and the only position minted is p = n, the
    * forced end-of-document boundary. Empty documents store nothing. */
  def cdcChunks(docsIn: DataFrame): DataFrame = {
    val docs = docsIn.withColumn("n", length(col("txt")).cast("long"))
      .filter(col("n") >= 1)
    val bounds = docs
      .select(col("doc_id"), col("source"), col("txt"), col("n"),
        explode(sequence(least(lit(16L), col("n")), col("n"))).as("p"))
      .filter(md5Long(expr("substring(txt, p - 15, 16)"), 14) % 32 === 0 ||
        col("p") === col("n"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    bounds
      .withColumn("s", coalesce(lag(col("p"), 1).over(w), lit(0L)) + 1)
      .select(col("doc_id"), col("source"),
        expr("substring(txt, s, p - s + 1)").as("chunk"))
  }

  /** CONTEXT-WINDOW SEQUENCE PACKING (q143): pack variable-length
    * documents into fixed token-budget windows (cap = 256, the q100
    * block size) minimizing padding — the training-prep stage that
    * turns a curated corpus into the fixed-shape batches a trainer
    * consumes (T5's "pack examples until the window is full", GPT-style
    * pipelines' sequence packing). q100 blockizes ONE concatenated
    * stream at fixed stride (documents span block boundaries); q143
    * keeps each document WHOLE inside exactly one window — the
    * no-cross-attention-contamination variant.
    *
    * Algorithm: HARMONIC class packing (Lee & Lee, JACM 1985) made
    * deterministic and engine-independent. A document longer than the
    * cap first sheds floor(n/cap) full windows (exactly cap tokens,
    * zero padding) and re-enters with its remainder; every packable
    * item of length len joins class k = cap div len, and class k packs
    * k items per window. Structural guarantees, spec-pinned
    * (SequencePackSpec): ZERO OVERFLOW (k·len ≤ cap for every member,
    * so no window can exceed the cap — no runtime check needed), and
    * PADDING-BOUNDED — every full window of class k carries
    * > k·cap/(k+1) ≥ cap/2 tokens, so padding in full windows is
    * < 50 % (< 1/3 for k ≥ 2, → 0 as k grows); per class exactly
    * ceil(n_k/k) windows, at most one of them partial.
    *
    * Why this and not first-fit-decreasing: FFD's bin state is a
    * sequential fold over the whole sorted corpus — one task at 100 TB.
    * Harmonic classing is embarrassingly parallel (class = a map-only
    * expression; the only coordination is a per-class rank, which runs
    * through [[exactStratumRank]]'s two-level √n decomposition — no
    * whole-class window partition), costs ≤ 2× optimal windows in the
    * worst case (1.691× asymptotically), and is reproducible bit for
    * bit in any engine: no packing decision depends on float math or
    * row arrival order.
    *
    * Output census per class (≤ ~2·√cap rows whatever the corpus):
    * items, windows, item tokens, capacity, padding_ppm; class 0 =
    * the full windows shed by over-cap documents. */
  def q143SequencePack(spark: SparkSession, dir: String): DataFrame = {
    val cap = 256L
    val tok = tokenizedDocs(Tables(spark, dir, "documents"))
    val packed = packSequences(tok, cap)
      .groupBy("k")
      .agg(count(lit(1)).as("n_items"),
        countDistinct(col("window_id")).as("n_windows"),
        sum("len").as("item_tokens"))
    val fulls = tok
      .select(size(col("toks")).cast("long").as("n"))
      .filter(col("n") > cap)
      .agg(coalesce(sum(expr(s"n div $cap")), lit(0L)).as("nb"))
      .filter(col("nb") > 0)
      .select(lit(0L).as("k"), col("nb").as("n_items"),
        col("nb").as("n_windows"), (col("nb") * cap).as("item_tokens"))
    packed.unionByName(fulls)
      .withColumn("capacity_tokens", col("n_windows") * cap)
      .withColumn("padding_ppm",
        expr("(capacity_tokens - item_tokens) * 1000000 div capacity_tokens"))
      .orderBy("k")
  }

  /** The reusable packer behind q143: any (doc_id, ..., toks) frame →
    * one row per packable item (whole doc of ≤ cap tokens, or an
    * over-cap doc's < cap-token remainder) with its harmonic class
    * k = cap div len and deterministic window_id within the class
    * (fill order: longest first, doc_id tie-break — so windows are
    * length-homogeneous and the partial window, if any, holds the
    * class's shortest items). Window ids are dense 0..ceil(n_k/k)-1
    * per class; (k, window_id) is the window key. */
  def packSequences(tok: DataFrame, cap: Long): DataFrame =
    packSequencesN(
      tok.select(col("doc_id"), size(col("toks")).cast("long").as("n")), cap)

  /** [[packSequences]] over a NARROW (doc_id, n) token-count frame — the
    * classing/ranking machinery never needs the token arrays, so callers
    * that already hold per-doc counts (the funnels) feed two fixed-width
    * columns through the rank decomposition instead of re-scanning the
    * array-carrying corpus per subtree reference (r20, guide §2.3:
    * shuffle — and rescan — fewer bytes). */
  private[graft] def packSequencesN(idLen: DataFrame, cap: Long): DataFrame = {
    require(cap >= 1)
    val items = idLen
      .select(col("doc_id"),
        when(col("n") <= cap, col("n")).otherwise(col("n") % cap).as("len"))
      .filter(col("len") >= 1)
      .withColumn("k", expr(s"$cap div len"))
    // Order-isomorphic composite rank key for (len desc, doc_id):
    // (cap - len) · 2^40 + doc_id — exact on any corpus with
    // doc_id < 2^40 and len ≤ cap (the q70 composite-key move).
    val keyed = items
      .withColumn("rk", (lit(cap) - col("len")) * lit(1L << 40) + col("doc_id"))
    exactStratumRank(keyed, Seq("k"), "rk", rankBuckets(items))
      .select(col("doc_id"), col("len"), col("k"),
        expr("(rnk - 1) div k").as("window_id"))
  }

  /** HOST-LEVEL CURATION GATE (q144): gate documents by a per-HOST
    * verdict, not per-doc signals alone — the production crawl-curation
    * move (UT1-style blocklists, CCNet/RefinedWeb host priors): a spam
    * host's individually-plausible pages all drop together, a reputable
    * host's odd page survives. The verdict composes two existing
    * operators aggregated to host grain:
    *
    *   1. QUALITY — q125's averaged-perceptron doc scores summed per
    *      source; a host passes when its mean score clears the CORPUS
    *      mean (integer cross-multiply `sum_score·n_total ≥
    *      total_score·n_docs` — no division, no sign games, and the
    *      bar is relative so it splits at any scale factor);
    *   2. AUTHORITY — [[GraphQueries.pageRank]] over the q133
    *      source-overlap graph (edge when shared-shingle Jaccard ≥
    *      25000 ppm, both directions): a high rank here means the
    *      host's CONTENT is heavily shared across other hosts — the
    *      mirror/template-farm signal — so the gate requires rank at
    *      most the uniform share (`rank_ppb ≤ 10⁹ div n_sources`).
    *
    * Keep = both. The gate itself is ONE broadcast join of the
    * host-verdict table against the corpus — the 100 TB shape: host
    * tables are millions of rows when corpora are billions, every
    * per-doc decision is a map-side lookup, and both signals were
    * already aggregates the pipeline computes (q125, q133) — the gate
    * adds host-sized work only. Census per source proves the gate from
    * the REAL joined frame, not arithmetic on the verdict table. */
  def q144HostCurationGate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val tok = tokenizedDocs(docs)
    // perSrc feeds both the totals row and the verdict table, and jp
    // feeds both directions of the edge union — uncut, each reference
    // re-ran the corpus-sized perceptron scoring pass / the whole
    // source-overlap pair join (r20, guide §1.2: don't compute things
    // twice). Both are ≤ #sources²-row tables; a lazy cut materializes
    // each once inside its first consumer's job.
    // (A §2.6 future-overlap of the quality arm against the
    // overlap-graph/PageRank arm was tried and measured NEUTRAL — the
    // authority arm IS the critical path, the scoring arm is short —
    // so the sequential form stays; the r20 revert discipline.)
    val perSrc = cut("q144.perSrc", perceptronScore(tok, col("lang") === "en",
        dims = 256, epochs = 3)
      .join(tok.select("doc_id", "source"), "doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("score").as("sum_score")))
    val totals = perSrc.agg(sum("n_docs").as("n_total"),
      sum("sum_score").as("total_score"))
    val jp = cut("q144.jp",
      sourceOverlap(docs).filter(col("jaccard_ppm") >= 25000)
        .select(col("src_a"), col("src_b")))
    val edges = jp.select(col("src_a").as("src"), col("src_b").as("dst"))
      .unionByName(jp.select(col("src_b").as("src"), col("src_a").as("dst")))
    val nodes = docs.select(col("source").as("node")).distinct()
    val ranks = GraphQueries.pageRank(edges, nodes, iters = 3)
      .select(col("node").as("source"), col("rank_ppb"))
    val ns = nodes.agg(count(lit(1)).as("ns"))
    val verdicts = perSrc.join(ranks, "source")
      .crossJoin(broadcast(totals)).crossJoin(broadcast(ns))
      .select(col("source"), col("n_docs"), col("sum_score"),
        col("rank_ppb"),
        when(col("sum_score") * col("n_total") >=
            col("total_score") * col("n_docs"), 1L).otherwise(0L)
          .as("q_pass"),
        when(col("rank_ppb") <= expr("1000000000 div ns"), 1L).otherwise(0L)
          .as("a_pass"))
      .withColumn("verdict", col("q_pass") * col("a_pass"))
    // ONE corpus pass: the broadcast gate join feeds the census directly
    // (verdict columns are constant per source, so they ride the groupBy
    // key and the verdict subtree is referenced exactly once — a
    // verdict-side re-reference would recompute the corpus-sized
    // perceptron/overlap aggregates twice, measured in PLANS.md r17).
    docs.select("doc_id", "source")
      .join(broadcast(verdicts), "source")
      .groupBy("source", "n_docs", "sum_score", "rank_ppb",
        "q_pass", "a_pass", "verdict")
      .agg(count(lit(1)).as("n_raw"))
      .select(col("source"), col("n_docs"), col("sum_score"),
        col("rank_ppb"), col("q_pass"), col("a_pass"), col("verdict"),
        (col("n_raw") * col("verdict")).as("docs_kept"))
      .orderBy("source")
  }

  /** N-GRAM DIVERSITY AUDIT (q149): per-source lexical diversity — the
    * corpus-composition check a pretraining mix runs BEFORE weighting
    * sources (the self-BLEU / type-token family): a source whose
    * bigram-type count collapses against its bigram-token count is
    * template-spun or boilerplate-heavy, whatever its per-document
    * quality scores say (q59 finds the per-DOCUMENT repetition; this is
    * the per-SOURCE aggregate the mix planner reads). Reports per
    * source: docs, token/type counts for unigrams and bigrams,
    * type-token ratio and bigram repetition share, both exact
    * integer ppm (×10⁶ div — no float anywhere).
    *
    * Scale shape: two explode → fixed-width-key groupBys (the q21/q88
    * shape) — distinct types per source shuffle (source, gram) once;
    * grams are never joined pairwise and nothing is corpus²; output is
    * #sources rows. At 100 TB both aggregates are partial-agg friendly
    * (map-side combine absorbs the in-partition repeats that the audit
    * exists to find). */
  def q149DiversityAudit(spark: SparkSession, dir: String): DataFrame =
    diversityAudit(tokenizedDocs(Tables(spark, dir, "documents")))

  /** The reusable audit behind q149 over any (source, toks) frame;
    * public so DiversitySpec can plant template-spun sources. */
  def diversityAudit(tok: DataFrame): DataFrame = {
    val tk = col("toks")
    val n = size(tk)
    val bigrams = when(n >= 2,
      zip_with(slice(tk, lit(1), n - 1), slice(tk, lit(2), n - 1),
        (a, b) => concat(a, lit(" "), b)))
      .otherwise(array().cast("array<string>"))
    val uni = tok.select(col("source"), explode(tk).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("tokens"),
        countDistinct(col("g")).as("types"))
    val bi = tok.select(col("source"), explode(bigrams).as("g"))
      .groupBy("source")
      .agg(count(lit(1)).as("bigram_tokens"),
        countDistinct(col("g")).as("bigram_types"))
    val docsPer = tok.groupBy("source").agg(count(lit(1)).as("n_docs"))
    docsPer.join(uni, "source").join(bi, "source")
      .select(col("source"), col("n_docs"), col("tokens"), col("types"),
        col("bigram_tokens"), col("bigram_types"),
        expr("types * 1000000 div tokens").as("ttr_ppm"),
        expr("(bigram_tokens - bigram_types) * 1000000 div bigram_tokens")
          .as("rep2_ppm"))
      .orderBy("source")
  }

  /** SEEDED SHARD EXPORT (q150): the LAST stage of a training-data
    * pipeline — assign every curated document to one of 64 shards by a
    * seeded content-free hash and order it within the shard by the same
    * hash, so the corpus is (a) globally shuffled (training wants
    * decorrelated batches — adjacent source/crawl order must not
    * survive into shard order) and (b) bit-reproducible from the seed
    * alone: any engine, any partitioning, any day re-derives the same
    * shard layout (the q123 split-assignment move applied to the
    * export). Census output: per shard, document count, total chars,
    * and the first/last doc ids in shard order — the boundary
    * fingerprint a resume/audit checks before trusting 64 multi-TB
    * files.
    *
    * Scale shape: assignment is a map-only fixed-width hash; the ONLY
    * exchange is the shard-key groupBy (at 100 TB: write with
    * partitionBy(shard) — same exchange, file sinks instead of a
    * census); balance is structural (md5 uniformity), and measured —
    * the census shows max/min occupancy within a few % of n/64. The
    * in-shard order needs no global sort here: first/last ride a
    * min/max struct comparison, and the real writer sorts WITHIN each
    * shard partition only (sortWithinPartitions — no range exchange). */
  def q150ShardExport(spark: SparkSession, dir: String): DataFrame =
    shardExport(Tables(spark, dir, "documents"), seed = "seed42",
      nShards = 64)

  /** MAD OUTLIER GATE (q152): per-source robust length filter — flag
    * documents whose char count deviates from the source MEDIAN by more
    * than 3× the MEDIAN ABSOLUTE DEVIATION (the robust-statistics
    * quality gate: mean/stddev bend under the very outliers the gate
    * hunts — truncation artifacts, concatenation blobs, empty shells —
    * while median/MAD hold their breakdown point at 50 %). Census per
    * source: docs, median, MAD, outliers, outlier ppm.
    *
    * Determinism: "median" is the LOWER median — the value at rank
    * (n+1) div 2 under the total order (n_chars, doc_id) — so the
    * statistic is a concrete row both engines agree on, never an
    * engine-specific interpolation; the MAD reuses the same rule on
    * |x − med|. All arithmetic integer.
    *
    * Scale shape: both statistics and the census are read off one
    * per-source histogram of value counts ([[madHistogram]]). The
    * corpus is scanned once and crosses one exchange after a map-side
    * partial count; no window ever reads a corpus row (at 100 TB one
    * source is billions of docs, but its histogram is bounded by the
    * value domain), and only the final `orderBy` adds an exchange. */
  def q152MadOutlierGate(spark: SparkSession, dir: String): DataFrame =
    madOutlierGate(Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars")), factor = 3L)

  /** THE LOWER MEDIAN OFF A VALUE HISTOGRAM: over (source, `v`, cnt)
    * rows, one per distinct (source, value), attach as `out` each
    * source's value at rank (n+1) div 2, n = Σ cnt. A running Σ cnt in
    * value order puts each value on the rank interval (cum − cnt, cum];
    * the one value whose interval holds the target is the median, and a
    * whole-source min(when(…)) spreads it to every row of the source.
    * Exact: the row at a rank under the (value, doc_id) order depends
    * only on the cumulative counts, because doc_id only orders rows of
    * equal value. NULL values sort first, as in that order; a NULL
    * source is its own partition, as with `Window.partitionBy`
    * (CalibrationSpec pins the median against [[exactStratumRank]],
    * MadGateSpec against a naive row_number with NULLs and ties). */
  private[graft] def withLowerMedian(hist: DataFrame, v: String,
                                     out: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val bySource = Window.partitionBy("source")
    val t = shiftright(col("n") + lit(1L), 1)
    hist
      .withColumn("cum", sum("cnt").over(bySource.orderBy(v)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("cnt").over(bySource))
      .withColumn(out, min(when(col("cum") - col("cnt") < t &&
        t <= col("cum"), col(v))).over(bySource))
      .drop("cum", "n")
  }

  /** The per-source deviation histogram behind every MAD caller:
    * (source, med_chars, dev, cnt, mad_chars), one row per distinct
    * (source, |n_chars − med_chars|). The corpus crosses ONE exchange,
    * the (source, n_chars) value count after its map-side partial; the
    * histogram is then hash-partitioned by source, and both medians and
    * the deviation count ride that partitioning with no further
    * exchange. NULL-source rows are dropped, as the per-doc join on
    * `source` drops them. */
  private def madHistogram(docs: DataFrame): DataFrame = {
    val hist = docs.filter(col("source").isNotNull)
      .groupBy("source", "n_chars").agg(count(lit(1)).as("cnt"))
    val devHist = withLowerMedian(hist, "n_chars", "med_chars")
      .groupBy(col("source"), col("med_chars"),
        abs(col("n_chars") - col("med_chars")).as("dev"))
      .agg(sum("cnt").as("cnt"))
    withLowerMedian(devHist, "dev", "mad_chars")
  }

  /** The per-doc deviation table behind q160/q171 over any (doc_id,
    * source, n_chars) frame: the input columns + med_chars, mad_chars
    * and dev. The source-sized med/MAD table from [[madHistogram]] is
    * broadcast onto the docs, so the input is read twice: once for the
    * histogram and once for the map-side join. */
  def madDeviations(docs: DataFrame): DataFrame = {
    val stats = madHistogram(docs)
      .select("source", "med_chars", "mad_chars").distinct()
    docs.join(broadcast(stats), "source")
      .withColumn("dev", abs(col("n_chars") - col("med_chars")))
  }

  /** The reusable gate behind q152 over any (doc_id, source, n_chars)
    * frame; public so MadGateSpec can plant outliers. The census is one
    * more aggregate over [[madHistogram]] — each deviation row counts
    * `cnt` docs — so no corpus row is read past the value count. */
  def madOutlierGate(docs: DataFrame, factor: Long): DataFrame =
    madHistogram(docs)
      .groupBy("source", "med_chars", "mad_chars")
      .agg(sum("cnt").as("n_docs"),
        sum(when(col("dev") > lit(factor) * col("mad_chars"), col("cnt"))
          .otherwise(0L)).as("n_outliers"))
      .select(col("source"), col("n_docs"), col("med_chars"),
        col("mad_chars"), col("n_outliers"),
        expr("n_outliers * 1000000 div n_docs").as("outlier_ppm"))
      .orderBy("source")

  /** CORPUS SNAPSHOT DIFF (q159): dataset-versioning's core operation —
    * diff two corpus snapshots by (doc_id, content hash) into
    * added / deleted / changed / unchanged, censused per source. Every
    * managed training corpus ships this (Delta/LakeFS-style data
    * versioning; q47's manifest is the single-snapshot artifact, q74
    * consumes the delta — this PRODUCES it from two manifests). The
    * fixture's "today" snapshot derives deterministically from the one
    * shipped table: docs ≡3 (mod 10) deleted, ≡5 re-edited (content
    * change under the same id), ≡7 re-keyed to a new id range (reads
    * as delete + add — the mover case every id-keyed diff must
    * classify), the rest untouched.
    *
    * Scale shape: both sides reduce to fixed-width manifests
    * (doc_id, md5, source) BEFORE the diff — the full-outer equi-join
    * on doc_id carries 32-byte hashes, never text; the census is one
    * source-keyed aggregate. At 100 TB the manifests are the stored
    * artifacts (q47) and the text columns are never read at all —
    * ReadSchema prunes to (doc_id, text → hash) once per snapshot
    * write, (doc_id, hash) thereafter. */
  def q159CorpusDiff(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val snapA = docs.select(col("doc_id"), col("source"), col("text"))
    val snapB = docs.filter(col("doc_id") % 10 =!= 3)
      .select(
        when(col("doc_id") % 10 === 7, col("doc_id") + 1000000000L)
          .otherwise(col("doc_id")).as("doc_id"),
        col("source"),
        when(col("doc_id") % 10 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"))
    corpusDiff(snapA, snapB)
  }

  /** The reusable diff behind q159 over any two (doc_id, source, text)
    * snapshots; public so CorpusDiffSpec can plant each verdict. */
  def corpusDiff(snapA: DataFrame, snapB: DataFrame): DataFrame = {
    def manifest(df: DataFrame, h: String, s: String) = df.select(
      col("doc_id"), md5(col("text")).as(h), col("source").as(s))
    val joined = manifest(snapA, "ha", "src_a")
      .join(manifest(snapB, "hb", "src_b"), Seq("doc_id"), "full_outer")
      .select(coalesce(col("src_a"), col("src_b")).as("source"),
        when(col("ha").isNull, "added")
          .when(col("hb").isNull, "deleted")
          .when(col("ha") === col("hb"), "unchanged")
          .otherwise("changed").as("verdict"))
    joined.groupBy("source")
      .agg(sum(when(col("verdict") === "added", 1L).otherwise(0L))
        .as("n_added"),
        sum(when(col("verdict") === "deleted", 1L).otherwise(0L))
          .as("n_deleted"),
        sum(when(col("verdict") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("verdict") === "unchanged", 1L).otherwise(0L))
          .as("n_unchanged"))
      .orderBy("source")
  }

  /** SPLIT-LEAKAGE AUDIT (q161): count near-duplicate pairs that
    * STRADDLE the train/val/test boundary — the reason dedup runs
    * BEFORE splitting: a test document whose near-twin sits in train is
    * leaked eval signal, and no amount of exact-id decontamination
    * (q51 catches shared content, q123 keeps ids stable) sees it if
    * the split was drawn before near-dup resolution. Composes q25's
    * verified MinHash pairs (banded, never all-pairs) with q123's
    * deterministic split assignment: census per unordered split pair
    * with an is_leak flag — the numbers an eval-hygiene dashboard
    * shows before anyone trusts a benchmark delta.
    *
    * Scale shape: the pair table is q25's (its plans/SCALE rows carry
    * the cost); the audit adds two broadcast-able split lookups (the
    * split table is (doc_id, split) — fixed width) and a 6-row census.
    * All within-split pairs appear too (is_leak = 0): the same audit
    * doubles as the dedup-debt census per split. */
  def q161SplitLeakageAudit(spark: SparkSession, dir: String): DataFrame =
    splitLeakageAudit(Tables(spark, dir, "documents"), 0.7, 90, 95)

  /** The reusable audit behind q161 over any (doc_id, text, …) frame;
    * public so SplitLeakageSpec can plant a cross-split twin. Its pairs
    * are [[minhashNeardup]]'s, so over the registered corpus it reads the
    * same session shingle table as q25. */
  def splitLeakageAudit(docs: DataFrame, threshold: Double,
                        trainPct: Int, valPct: Int): DataFrame = {
    val splits = splitAssign(docs, trainPct, valPct)
      .select(col("doc_id"), col("split"))
    minhashNeardup(docs, threshold)
      .join(splits.select(col("doc_id").as("doc_a"),
        col("split").as("sp_a")), "doc_a")
      .join(splits.select(col("doc_id").as("doc_b"),
        col("split").as("sp_b")), "doc_b")
      .select(least(col("sp_a"), col("sp_b")).as("split_a"),
        greatest(col("sp_a"), col("sp_b")).as("split_b"))
      .groupBy("split_a", "split_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("is_leak",
        when(col("split_a") =!= col("split_b"), 1L).otherwise(0L))
      .orderBy("split_a", "split_b")
  }

  /** END-TO-END CURATION FUNNEL (q160): the whole pipeline as ONE
    * registered query — the capstone proof that the operators COMPOSE:
    * raw corpus → exact dedup (q20's keep-min rule) → MAD length gate
    * (q152 at 3 MAD, per source on the deduped set) → decontamination
    * (q51's ≥ 10-shared-shingle rule against the src19 held-out split)
    * → harmonic context-window packing (q143 at cap 256) → seeded
    * 64-shard export (q150). Output is the funnel census every
    * curation run logs: one row per stage with the surviving count
    * (docs for the gates, windows for the pack, shards for the
    * export) — the at-a-glance answer to "where did my corpus go".
    *
    * Scale shape: nothing new — each stage is its own audited
    * operator (q20/q152/q51/q143/q150 carry the plans and specs, and
    * ScaleShapeSpec pins q20's and q51's growth); the funnel chains
    * them with semi/anti joins on doc_id (fixed-width keys, never text)
    * and the census rows are 1-row aggregates unioned at the end. The
    * per-stage ID MANIFESTS (keep/gate/contaminated doc-id sets) are
    * localCheckpoint-materialized — exactly what a production funnel
    * persists between stages — and necessarily so: left unmaterialized,
    * each census row re-expands the upstream stage subtrees and the
    * COMPOSED tree grows multiplicatively, which round-17 measured as
    * minutes of Catalyst analysis before a single task ran (planner time
    * is part of the 100 TB budget too). */
  def q160CurationFunnel(spark: SparkSession, dir: String): DataFrame =
    curationFunnel(Tables(spark, dir, "documents"))

  /** The reusable full funnel behind q160 over any (doc_id, lang,
    * source, text, n_chars) snapshot; public so FunnelIncrementalSpec
    * can pin q171's fold ≡ full-funnel equality on arbitrary
    * snapshots. */
  def curationFunnel(docs: DataFrame): DataFrame = {
    // r20 restructure (guide §1.2/§2.3): every stage works on ID
    // MANIFESTS plus the session-shared tokenization, never on fresh
    // checkpoint-rooted corpus frames:
    //   - census rows count the manifests directly — provably the same
    //     integers (each stage frame was docs ⋉ manifest on the unique
    //     doc_id, so its count IS the manifest count);
    //   - token-facing stages (decontamination shingles, pack-window
    //     token counts, shard census) semi-join the SESSION-SHARED
    //     tokenized/shingled tables on the manifest — tokenize/shingle
    //     are content-pure per doc, so the restricted rows are
    //     bit-identical to re-tokenizing the stage subset, at zero new
    //     corpus passes. The old shape re-tokenized AND re-shingled the
    //     ~whole corpus per RUN (its stage frames were fresh
    //     checkpoint-rooted plans that could never cache-hit), which is
    //     also why the funnelKeys release machinery existed; both are
    //     gone.
    // The winner row carries (source, n_chars) out of the dedup
    // aggregation itself — min over struct(doc_id, …) picks the same
    // min-doc_id winner (doc_id is unique, so the struct order is the
    // doc_id order) and the MAD gate reads the attributes directly,
    // instead of semi-joining the winner ids back into the corpus
    // (r20 session 2, guide §2.4: one exchange instead of two).
    val keepIds = cut("curationFunnel.keepIds", docs
      .groupBy(md5(lower(trim(col("text")))).as("h"))
      .agg(min(struct(col("doc_id"), col("source"), col("n_chars")))
        .as("m"))
      .select(col("m.doc_id").as("doc_id"), col("m.source").as("source"),
        col("m.n_chars").as("n_chars")))
    val lgIds = cut("curationFunnel.lgIds", madDeviations(keepIds)
      .filter(col("dev") <= lit(3L) * col("mad_chars"))
      .select("doc_id"))
    val contaminated = cut("curationFunnel.contaminated",
      decontaminateWithin(docs, lgIds,
          col("source") === "src19", 10)
        .select("doc_id"))
    val cleanIds = cut("curationFunnel.cleanIds",
      lgIds.join(contaminated, Seq("doc_id"), "left_anti"))
    // The pack census needs per-doc token COUNTS only — cut the narrow
    // (doc_id, n) frame once; the rank decomposition's several subtree
    // references then rescan two fixed-width columns, never the
    // array-carrying corpus.
    val tokN = cut("curationFunnel.tokN", tokenizedDocs(docs)
      .select(col("doc_id"), size(col("toks")).cast("long").as("n"))
      .join(cleanIds, Seq("doc_id"), "left_semi"))
    def stage(name: String, df: DataFrame): DataFrame =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))
    val wPacked = packSequencesN(tokN, 256)
      .groupBy("k").agg(countDistinct("window_id").as("w"))
      .agg(coalesce(sum("w"), lit(0L)).as("wp"))
    val wFulls = tokN
      .filter(col("n") > 256)
      .agg(coalesce(sum(expr("n div 256")), lit(0L)).as("wf"))
    val packRow = wPacked.crossJoin(wFulls)
      .select(lit("4_pack_windows").as("stage"),
        (col("wp") + col("wf")).as("n"))
    val shardRow = stage("5_shards", shardExport(
      docs.select(col("doc_id"), col("n_chars"))
        .join(cleanIds, Seq("doc_id"), "left_semi"), "seed42", 64))
    stage("0_raw", docs)
      .unionByName(stage("1_exact_dedup", keepIds))
      .unionByName(stage("2_length_gate", lgIds))
      .unionByName(stage("3_decontam", cleanIds))
      .unionByName(packRow)
      .unionByName(shardRow)
      .orderBy("stage")
  }

  /** INCREMENTAL CURATION FUNNEL (q171): the q160 capstone in the
    * delta-economics regime every component already demonstrated
    * (q157/q162/q163/q165) — given yesterday's snapshot A (whose funnel
    * artifacts stand) and today's snapshot B, produce B's funnel census
    * while doing TEXT-DERIVED work (tokenize, shingle, hash) only for
    * delta-affected documents. At 100 TB nobody re-curates the corpus
    * daily; this is the fold that makes the capstone a daily job.
    *
    * Per stage, what folds and what must rescan (and why):
    *   - exact dedup: keep-verdicts inherit for every hash group the
    *     delta never touched; only groups carrying a delta doc's old or
    *     new hash recompute their min (manifest-width semi/anti work);
    *   - MAD gate: median/MAD are holistic rank statistics — they are
    *     recomputed from the standing LENGTH MANIFEST (fixed-width, no
    *     text), and every verdict is a map over that manifest;
    *   - decontamination: the train shingle set is maintained as a
    *     CARRIER-COUNT artifact — leaving docs' postings decrement, ​
    *     entering docs' increment, and only shingles whose
    *     train-membership FLIPS (count 0 ↔ >0) can change any standing
    *     verdict, so held-out docs re-verdict only when they changed,
    *     entered the gate, or touch a flipped shingle; all others
    *     inherit yesterday's verdict (provably equal: an unchanged doc
    *     touching no flipped shingle has an identical overlap count);
    *   - packing/shards: census math over per-doc token counts — counts
    *     inherit for unchanged docs, delta docs re-tokenize.
    *
    * Fold ≡ full-funnel is pinned by FunnelIncrementalSpec on both the
    * sparse-1‰ and the registered ~30%-touched delta, and the
    * registered oracle is q160's CTE chain VERBATIM over snapshot B —
    * a hash match certifies the incremental path reproduces the full
    * run end to end.
    *
    * 100 TB shape: A-side artifacts (hash manifest, posting store,
    * token counts, carrier counts, verdict sets) are yesterday's stored
    * state — computed here from snapA as the stand-in, the q165
    * posture; every B-side corpus-facing pass is a fixed-width manifest
    * scan with delta-proportional shuffle output, and every stage
    * boundary id-manifest is localCheckpointed (the q160 lesson:
    * composed funnel subtrees otherwise re-expand multiplicatively in
    * the planner). */
  def q171IncrementalCurationFunnel(spark: SparkSession,
                                    dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    // Today's snapshot: q159/q165's deterministic delta derivation
    // (≡3 mod 10 deleted, ≡5 content-edited, ≡7 re-keyed).
    val snapB = docs.filter(col("doc_id") % 10 =!= 3)
      .select(
        when(col("doc_id") % 10 === 7, col("doc_id") + 1000000000L)
          .otherwise(col("doc_id")).as("doc_id"),
        col("lang"), col("source"),
        when(col("doc_id") % 10 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"),
        when(col("doc_id") % 10 === 5, col("n_chars") + 5L)
          .otherwise(col("n_chars")).as("n_chars"))
    incrementalCurationFunnel(docs, snapB)
  }

  /** The reusable fold behind q171 over any two (doc_id, lang, source,
    * text, n_chars) snapshots (ids unique per snapshot; n_chars
    * content-derived, as in the corpus tables); public so
    * FunnelIncrementalSpec can pin fold ≡ [[curationFunnel]](snapB) on
    * planted deltas and measure the delta-proportional work. */
  def incrementalCurationFunnel(snapA: DataFrame,
                                snapB: DataFrame): DataFrame = {
    val heldSrc = "src19"; val minShared = 10; val madFactor = 3L
    val cap = 256L; val shardSeed = "seed42"; val nShards = 64

    // r20 restructure #2 (guide §2.6 "overlap independent jobs"): with
    // AQE on, a lazy lineage cut materializes its internal exchanges
    // EAGERLY at construction, so the fold used to run as ~120 strictly
    // sequential ~0.1 s jobs (SparkListener: Σ job wall ≈ wall — the
    // 32-core box sat ~3 % utilized). The artifact DAG has two long
    // independent spines (A-side posting/verdict chain, B-side
    // dedup/MAD chain), so each artifact now builds-and-cuts in a fork
    // branch that awaits exactly its inputs: every frame, plan and
    // result is IDENTICAL to the sequential form (FunnelIncrementalSpec
    // and the q160-CTE oracle pin both), only the materialization
    // overlaps. A production driver orchestrating a daily funnel
    // threads its stage jobs the same way — at any scale the overlap
    // back-fills the cluster during each stage’s straggler tail
    // (nothing local[32]-specific).
    fork { f =>
      val tokSnapA = tokenizedDocs(snapA)
      val shSnapA = shingledHashed(snapA)

      // Snapshot manifests — the per-snapshot stored artifact (q159’s
      // posture: text is read once at snapshot-publish time; one pass
      // yields BOTH the raw diff hash and the dedup-normalized hash).
      def manifest(df: DataFrame) = df.select(
        col("doc_id"), col("source"), col("n_chars"),
        md5(col("text")).as("h_raw"),
        md5(lower(trim(col("text")))).as("h"))
      val manA = f.cut("q171.manA") { manifest(snapA) }
      val manB = f.cut("q171.manB") { manifest(snapB) }

      // Delta classification (q159’s diff, id-keyed, fixed-width).
      val diff = f.cut("q171.diff") {
        manA().select(col("doc_id"), col("h_raw").as("ha"))
          .join(manB().select(col("doc_id"), col("h_raw").as("hb")),
            Seq("doc_id"), "full_outer")
      }
      def unchangedIds(diff: DataFrame) =
        diff.filter(col("ha") === col("hb")).select("doc_id")
      def deltaBIds(diff: DataFrame) = diff.filter(col("hb").isNotNull &&
        (col("ha").isNull || col("ha") =!= col("hb"))).select("doc_id")
      def removedAIds(diff: DataFrame) = diff.filter(col("ha").isNotNull &&
        (col("hb").isNull || col("ha") =!= col("hb"))).select("doc_id")

      // A-side standing artifacts (yesterday’s funnel state; the
      // session-shared tokenized/shingle relations stand in for the
      // posting/token stores a production funnel persists per doc —
      // content-pure, so yesterday’s run covers every doc it saw).
      // postA/tokA/keepA each feed several downstream consumers; a lazy
      // lineage cut materializes each ONCE instead of re-running the
      // explode/aggregate per reference (r19 optimization).
      val postA = f.cut("q171.postA") {
        shSnapA.select(col("doc_id"), explode(col("hs")).as("h"))
      }
      val tokA = f.cut("q171.tokA") {
        tokSnapA.select(col("doc_id"), size(col("toks")).cast("long").as("n"))
      }
      // min over struct(doc_id, …) = the same min-doc_id winner with its
      // gate attributes attached — the A-side MAD gate reads them
      // directly instead of semi-joining winner ids back into manA
      // (the q160 move; the B side MUST re-join manB for attributes
      // because an unaffected normalized hash does not pin B's n_chars).
      val keepA = f.cut("q171.keepA") {
        manA().groupBy("h")
          .agg(min(struct(col("doc_id"), col("source"), col("n_chars")))
            .as("m"))
          .select(col("h"), col("m.doc_id").as("doc_id"),
            col("m.source").as("source"), col("m.n_chars").as("n_chars"))
      }
      // The gate output carries `source` already — keeping it makes the
      // train/held splits map-only filters over the checkpointed gate
      // manifest instead of four id semi-joins back into manA/manB
      // (r20 job-count surgery; guide §2.4 "remove shuffles outright").
      val lgA = f.cut("q171.lgA") {
        madDeviations(keepA()
            .select(col("doc_id"), col("source"), col("n_chars")))
          .filter(col("dev") <= lit(madFactor) * col("mad_chars"))
          .select("doc_id", "source")
      }
      def trainIds(lg: DataFrame) =
        lg.filter(col("source") =!= heldSrc).select("doc_id")
      def heldIds(lg: DataFrame) =
        lg.filter(col("source") === heldSrc).select("doc_id")
      val trainCntA = f.cut("q171.trainCntA") {
        postA().join(trainIds(lgA()), Seq("doc_id"), "left_semi")
          .groupBy("h").agg(count(lit(1)).as("cnt_a"))
      }
      val contamA = f.cut("q171.contamA") {
        postA().join(heldIds(lgA()), Seq("doc_id"), "left_semi")
          .join(trainCntA().select("h"), Seq("h"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("ns"))
          .filter(col("ns") >= minShared).select("doc_id")
      }

      // Delta-side text work: ONLY delta docs tokenize/shingle — the
      // honest 100 TB bound this operator exists to enforce.
      val tokDelta = f.cut("q171.tokDelta") {
        snapB.join(deltaBIds(diff()), Seq("doc_id"), "left_semi")
          .select(col("doc_id"), toks(col("text")).as("toks"))
      }
      val postDelta = f.cut("q171.postDelta") {
        tokDelta()
          .select(col("doc_id"), shingles(col("toks")).as("sh"))
          .filter(size(col("sh")) > 0)
          .select(col("doc_id"),
            explode(transform(col("sh"), x => md5Long(x, 14))).as("h"))
      }

      // Stage 1 — incremental exact dedup: keep-verdicts inherit for
      // untouched hash groups (identical membership ⇒ identical min);
      // groups carrying any delta hash recompute from B’s manifest.
      val affectedH = f.cut("q171.affectedH") {
        manA().join(removedAIds(diff()), Seq("doc_id"), "left_semi")
          .select("h")
          .unionByName(manB().join(deltaBIds(diff()),
            Seq("doc_id"), "left_semi").select("h"))
          .distinct()
      }
      val keepIdsB = f.cut("q171.keepIdsB") {
        keepA().join(affectedH(), Seq("h"), "left_anti")
          .select("doc_id")
          .unionByName(manB().join(affectedH(), Seq("h"), "left_semi")
            .groupBy("h").agg(min("doc_id").as("doc_id")).select("doc_id"))
      }

      // Stage 2 — MAD gate: holistic rank statistics over the updated
      // length manifest (fixed-width; no text touched).
      val lgB = f.cut("q171.lgB") {
        madDeviations(
            manB().join(keepIdsB(), Seq("doc_id"), "left_semi")
              .select(col("doc_id"), col("source"), col("n_chars")))
          .filter(col("dev") <= lit(madFactor) * col("mad_chars"))
          .select("doc_id", "source")
      }

      // Stage 3 — decontamination via the carrier-count fold. Changed
      // docs leave with their OLD postings and re-enter with the NEW
      // ones; pure membership flips move whole posting sets.
      //
      // r20 restructure (r19’s "not yet optimized" #1, guide §2.4): the
      // old shape derived the leaving/entering sets via FOUR semi/anti
      // joins + two unions over trainIdsA/B, then semi-joined postA twice
      // and postDelta once. ONE full-outer join on the train manifests
      // (+ the diff’s unchanged flag) classifies every doc:
      //   leaving    = in_a ∧ (¬in_b ∨ changed)   — old postings, −1
      //   enterUnch  = in_b ∧ ¬in_a ∧ unchanged   — old postings, +1
      //   enterDelta = in_b ∧ ¬unchanged          — new postings, +1
      // (for docs in both train sets ha/hb are non-null, so changed ⇔
      // ¬unchanged; enterUnch ∧ leaving is impossible since enterUnch
      // requires ¬in_a). Each posting source is then joined ONCE with the
      // ±1 tag attached — ids are unique per side, so the inner join
      // attaches exactly one tag per posting row, the same rows the three
      // semi-joins produced.
      val memb = f.cut("q171.memb") {
        trainIds(lgA()).withColumn("a_m", lit(1L))
          .join(trainIds(lgB()).withColumn("b_m", lit(1L)),
            Seq("doc_id"), "full_outer")
          .join(diff().select(col("doc_id"),
            (col("ha") === col("hb")).as("unch")), Seq("doc_id"), "left")
          .select(col("doc_id"),
            col("a_m").isNotNull.as("in_a"), col("b_m").isNotNull.as("in_b"),
            coalesce(col("unch"), lit(false)).as("unch"))
      }
      val leaving = col("in_a") && (!col("in_b") || !col("unch"))
      val enterUnch = col("in_b") && !col("in_a") && col("unch")
      val trainCntB = f.cut("q171.trainCntB") {
        val dH = postA().join(
            memb().filter(leaving || enterUnch)
              .select(col("doc_id"),
                when(leaving, lit(-1L)).otherwise(lit(1L)).as("delta")),
            Seq("doc_id"))
            .select(col("h"), col("delta"))
          .unionByName(postDelta().join(
              memb().filter(col("in_b") && !col("unch")).select("doc_id"),
              Seq("doc_id"), "left_semi")
            .select(col("h"), lit(1L).as("delta")))
          .groupBy("h").agg(sum("delta").as("d"))
          .filter(col("d") =!= 0)
        trainCntA()
          .join(dH, Seq("h"), "full_outer")
          .select(col("h"),
            coalesce(col("cnt_a"), lit(0L)).as("ca"),
            (coalesce(col("cnt_a"), lit(0L)) + coalesce(col("d"), lit(0L)))
              .as("cb"))
      }
      // Only shingles whose train-membership FLIPS can change a standing
      // verdict; everything else inherits.
      val flippedH = f.cut("q171.flippedH") {
        trainCntB().filter((col("ca") > 0) =!= (col("cb") > 0))
          .select("h")
      }
      val reverdictIds = f.cut("q171.reverdictIds") {
        val heldIdsB = heldIds(lgB())
        val touchFlipped = postA()
          .join(heldIdsB.join(unchangedIds(diff()),
            Seq("doc_id"), "left_semi"), Seq("doc_id"), "left_semi")
          .join(flippedH(), Seq("h"), "left_semi")
          .select("doc_id").distinct()
        val enteredHeld = heldIdsB.join(heldIds(lgA()),
          Seq("doc_id"), "left_anti")
        heldIdsB.join(deltaBIds(diff()), Seq("doc_id"), "left_semi")
          .unionByName(enteredHeld)
          .unionByName(touchFlipped)
          .distinct()
      }
      val contaminatedB = f.cut("q171.contaminatedB") {
        val postRev = postA()
            .join(reverdictIds().join(unchangedIds(diff()),
              Seq("doc_id"), "left_semi"), Seq("doc_id"), "left_semi")
          .unionByName(postDelta().join(reverdictIds(),
            Seq("doc_id"), "left_semi"))
        val contamRev = postRev
          .join(trainCntB().filter(col("cb") > 0).select("h"),
            Seq("h"), "left_semi")
          .groupBy("doc_id").agg(count(lit(1)).as("ns"))
          .filter(col("ns") >= minShared).select("doc_id")
        val contamInherited = contamA()
          .join(heldIds(lgB()), Seq("doc_id"), "left_semi")
          .join(reverdictIds(), Seq("doc_id"), "left_anti")
        contamRev.unionByName(contamInherited).distinct()
      }
      val cleanIdsB = f.cut("q171.cleanIdsB") {
        lgB().select("doc_id")
          .join(contaminatedB(), Seq("doc_id"), "left_anti")
      }

      // Terminal awaits: everything below is census math on the cut
      // manifests (the same frames the sequential form built).
      val lgIdsB = lgB().select("doc_id")
      val tokDeltaN = tokDelta().select(col("doc_id"),
        size(col("toks")).cast("long").as("n"))
      val uIds = unchangedIds(diff())

      // Stage 4 — pack-window census over per-doc token counts (counts
      // inherit for unchanged docs; the census is q160’s window math,
      // closed-form over stratum counts).
      val tokCntB = tokA()
          .join(cleanIdsB().join(uIds, Seq("doc_id"), "left_semi"),
            Seq("doc_id"), "left_semi")
        .unionByName(tokDeltaN.join(cleanIdsB(), Seq("doc_id"), "left_semi"))
      val items = tokCntB
        .select(when(col("n") <= cap, col("n")).otherwise(col("n") % cap)
          .as("len"))
        .filter(col("len") >= 1)
        .withColumn("k", expr(s"$cap div len"))
      val wPacked = items.groupBy("k").agg(count(lit(1)).as("cnt"))
        .agg(coalesce(sum(expr("(cnt + k - 1) div k")), lit(0L)).as("wp"))
      val wFulls = tokCntB.filter(col("n") > cap)
        .agg(coalesce(sum(expr(s"n div $cap")), lit(0L)).as("wf"))
      val packRow = wPacked.crossJoin(wFulls)
        .select(lit("4_pack_windows").as("stage"),
          (col("wp") + col("wf")).as("n"))

      // Stage 5 — shard census over the clean id manifest.
      val shardRow = cleanIdsB()
        .select((md5Long(concat(lit(s"$shardSeed:"),
          col("doc_id").cast("string")), 14) % nShards).as("shard"))
        .agg(countDistinct("shard").as("n"))
        .select(lit("5_shards").as("stage"), col("n"))

      def stage(name: String, df: DataFrame): DataFrame =
        df.agg(count(lit(1)).as("n")).select(lit(name).as("stage"), col("n"))
      stage("0_raw", manB())
        .unionByName(stage("1_exact_dedup", keepIdsB()))
        .unionByName(stage("2_length_gate", lgIdsB))
        .unionByName(stage("3_decontam", cleanIdsB()))
        .unionByName(packRow)
        .unionByName(shardRow)
        .orderBy("stage")
    }
  }

  /** INCREMENTAL SHARD PUBLISHING (q165): q159's snapshot diff composed
    * with q150's seeded shard layout — given yesterday's published
    * corpus (snapshot A) and today's (snapshot B), decide PER SHARD
    * whether it must be republished (any member added, deleted, or
    * content-changed) or whether yesterday's files stand. The
    * Delta-style incremental dataset publish: at 100 TB you never
    * rewrite 64 corpus-sized shards for a 1‰ delta — republish work is
    * delta-touched shards only, and the decision provably reproduces
    * the full re-export (republished shards re-export from B; standing
    * shards' A-census ≡ B-census because an untouched shard has the
    * identical member set and content — ShardPublishSpec pins
    * fold ≡ full-export).
    *
    * Scale shape: both snapshots reduce to fixed-width manifests
    * (doc_id, md5, n_chars, shard) before ONE full-outer equi-join on
    * doc_id (32-byte hashes cross the exchange, never text — the q159
    * posture); shard is a pure function of doc_id so it needs no join
    * to agree across snapshots; the census is one 64-group aggregate. */
  def q165IncrementalShardPublish(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents")
    val snapA = docs.select(col("doc_id"), col("text"), col("n_chars"))
    // Today's snapshot: q159's deterministic derivation, n_chars tracking
    // the edit (' rev2' adds 5 chars) so the census is content-honest.
    val snapB = docs.filter(col("doc_id") % 10 =!= 3)
      .select(
        when(col("doc_id") % 10 === 7, col("doc_id") + 1000000000L)
          .otherwise(col("doc_id")).as("doc_id"),
        when(col("doc_id") % 10 === 5, concat(col("text"), lit(" rev2")))
          .otherwise(col("text")).as("text"),
        when(col("doc_id") % 10 === 5, col("n_chars") + 5L)
          .otherwise(col("n_chars")).as("n_chars"))
    incrementalShardPublish(snapA, snapB, "seed42", 64)
  }

  /** The reusable publisher behind q165 over any two (doc_id, text,
    * n_chars) snapshots; public so ShardPublishSpec can pin the
    * fold ≡ full-export equality and plant per-verdict shards. */
  def incrementalShardPublish(snapA: DataFrame, snapB: DataFrame,
                              seed: String, nShards: Int): DataFrame = {
    require(nShards >= 1)
    def manifest(df: DataFrame, tag: String) = df.select(
      col("doc_id"),
      md5(col("text")).as(s"h_$tag"),
      col("n_chars").as(s"nc_$tag"))
    val merged = manifest(snapA, "a")
      .join(manifest(snapB, "b"), Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("h_a"), col("h_b"), col("nc_b"))
    shardPublishCensus(merged, seed, nShards)
  }

  /** The verdict + census tail shared by q165 and q173's stream fold,
    * over the MERGED per-doc manifest (doc_id, h_a, h_b, nc_b) — h_a
    * null means the doc is new, h_b null means it left. Shard is a
    * pure function of doc_id, so the census needs no second join. */
  def shardPublishCensus(merged: DataFrame, seed: String,
                         nShards: Int): DataFrame = {
    require(nShards >= 1)
    merged
      .select(
        (md5Long(concat(lit(s"$seed:"), col("doc_id").cast("string")), 14)
          % nShards).as("shard"),
        when(col("h_a").isNull, lit("added"))
          .when(col("h_b").isNull, lit("deleted"))
          .when(col("h_a") === col("h_b"), lit("unchanged"))
          .otherwise(lit("changed")).as("verdict"),
        col("nc_b"))
      .groupBy("shard")
      .agg(
        sum(when(col("verdict") === "added", 1L).otherwise(0L))
          .as("n_added"),
        sum(when(col("verdict") === "deleted", 1L).otherwise(0L))
          .as("n_deleted"),
        sum(when(col("verdict") === "changed", 1L).otherwise(0L))
          .as("n_changed"),
        sum(when(col("verdict") =!= "deleted", 1L).otherwise(0L))
          .as("n_docs"),
        coalesce(sum(col("nc_b")), lit(0L)).as("n_chars"))
      .withColumn("republish",
        when(col("n_added") + col("n_deleted") + col("n_changed") > 0, 1L)
          .otherwise(0L))
      .orderBy("shard")
  }

  /** The per-batch merge behind q173: upsert today's arriving manifest
    * rows (doc_id, h_b, nc_b) into the standing merged manifest. One
    * pass over the standing artifact per batch (a full-outer equi-join
    * on fixed-width keys); re-delivery of a doc_id is a no-op because
    * content is keyed by id (coalesce picks the identical hash). */
  def shardPublishFold(base: DataFrame, batch: DataFrame): DataFrame = {
    val b = batch
      .select(col("doc_id"), col("h_b").as("hb_new"),
        col("nc_b").as("nc_new"))
      .dropDuplicates("doc_id") // same-id rows carry identical content
    base.join(b, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("h_a"),
        coalesce(col("hb_new"), col("h_b")).as("h_b"),
        coalesce(col("nc_new"), col("nc_b")).as("nc_b"))
  }

  /** The reusable export census behind q150 over any (doc_id, n_chars)
    * frame; public so ShardExportSpec can pin seed-reproducibility and
    * balance. */
  def shardExport(docs: DataFrame, seed: String, nShards: Int): DataFrame = {
    require(nShards >= 1)
    val h = md5Long(concat(lit(s"$seed:"), col("doc_id").cast("string")), 14)
    docs
      .select(col("doc_id"), col("n_chars"),
        (h % nShards).as("shard"), h.as("hv"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("n_chars"),
        min(struct(col("hv"), col("doc_id"))).getField("doc_id")
          .as("first_doc"),
        max(struct(col("hv"), col("doc_id"))).getField("doc_id")
          .as("last_doc"))
      .orderBy("shard")
  }
}
