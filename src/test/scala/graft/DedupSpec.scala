package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DocQueries

/** Behavior tests for the near-dup detector: planted duplicates must be
  * found, unrelated docs must not pair up. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from a warm windowsill nearby"

  test("minhash finds a planted near-duplicate and skips unrelated docs") {
    val docs = Seq(
      (1L, base),
      (2L, base + " tonight"), // near-dup: one appended word
      (3L, "completely different words about spark shuffles joins aggregates and columnar parquet scans only"),
      (4L, "tiny doc") // < 3 tokens → no shingles → must not crash or pair
    ).toDF("doc_id", "text")
    val pairs = DocQueries.minhashNeardup(docs, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("identical texts get jaccard 1.0") {
    val docs = Seq((1L, base), (2L, base)).toDF("doc_id", "text")
    val j = DocQueries.minhashNeardup(docs, 0.9)
      .select("jaccard").as[Double].collect()
    assert(j.toSeq == Seq(1.0))
  }

  test("incremental dedup flags delta docs against the corpus only") {
    import org.apache.spark.sql.functions.col
    val filler = (1 to 30).map(i => s"filler$i word$i").mkString(" ")
    val docs = Seq(
      // corpus (even ids)
      (2L, base),
      (4L, "archive material " + filler),
      (6L, "unrelated corpus text about watermark state stores and columnar page encodings in modern engines"),
      // delta (odd ids)
      (1L, base),                  // exact dup of corpus doc 2
      (3L, base + " tonight"),     // near-dup of corpus doc 2
      (5L, "archive material " + filler + " appended trailer words here"), // contaminated (many shared shingles, low jaccard? actually high — near-dup too)
      (7L, "entirely fresh delta document with brand new vocabulary nothing shared with the existing corpus at all"),
      (9L, "entirely fresh delta document with brand new vocabulary nothing shared with the existing corpus at all")
      // 9 duplicates 7 — BOTH delta: intra-shard dups are q20's job, not
      // the incremental audit's; both must keep.
    ).toDF("doc_id", "text")
    val out = DocQueries.incrementalDedup(docs, col("doc_id") % 2 === 1, 0.7, 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out.keySet == Set(1L, 3L, 5L, 7L, 9L))
    assert(out(1L)._1, "exact dup not flagged")
    assert(!out(1L)._4)
    assert(out(3L)._2, "near dup not flagged")
    assert(!out(3L)._4)
    assert(out(5L)._3 >= 10, s"contamination count too low: ${out(5L)._3}")
    assert(!out(5L)._4)
    assert(!out(7L)._1 && !out(7L)._2 && out(7L)._3 == 0 && out(7L)._4,
      s"clean delta doc must keep: ${out(7L)}")
    assert(out(9L)._4, "intra-delta dup must NOT be flagged by the incremental audit")
  }

  test("incremental dedup never plans a corpus-self join — every corpus-facing join broadcasts a delta-derived side") {
    import org.apache.spark.sql.functions.col
    Artifacts.clear(spark)
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001", "documents")
    val plan = DocQueries.incrementalDedup(docs, col("doc_id") % 10 === 7, 0.7, 10)
      .queryExecution.executedPlan.toString
    // The corpus-squared failure mode would surface as a sort-merge or
    // shuffled-hash join between two corpus-scaled sides somewhere in the
    // candidate path; the shard-bounded design keeps every corpus-facing
    // join a BroadcastHashJoin (delta side broadcast). The only allowed
    // non-broadcast joins are the final delta-sized flag attachments and
    // the doc_id membership join.
    val smj = "SortMergeJoin".r.findAllMatchIn(plan).size +
      "ShuffledHashJoin".r.findAllMatchIn(plan).size
    assert(smj <= 2, s"expected ≤2 non-broadcast (delta/membership) joins, got $smj:\n$plan")
    assert("BroadcastHashJoin".r.findAllMatchIn(plan).size >= 4,
      s"corpus-facing joins must broadcast the delta side:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), s"pair blowup:\n$plan")
  }

  test("q47 annotates AFTER the anti-join, from the tokenized cache (plan pin)") {
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val df = DocQueries.q47CorpusManifest(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.optimizedPlan
    val anti = plan.collectFirst {
      case j @ Join(_, _, LeftAnti, _, _) => j
    }.getOrElse(fail(s"no LeftAnti join in q47 plan:\n$plan"))
    // the heavy per-doc annotation (the rolling-hash fingerprint) must NOT
    // be computed below the anti-join — losers leave first
    assert(!anti.left.toString.contains("aggregate("),
      s"fingerprint computed before the anti-join:\n${anti.left}")
    assert(plan.toString.contains("aggregate("),
      "fingerprint annotation missing entirely")
    // and the survivors read the shared tokenized InMemoryRelation
    assert(anti.left.toString.contains("InMemoryRelation"),
      s"anti-join left side does not read the tokenized cache:\n${anti.left}")
  }
}
