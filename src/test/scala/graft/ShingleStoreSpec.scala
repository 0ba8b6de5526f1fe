package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.catalyst.expressions.StringSplit
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructField}
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DocQueries
import graft.sources.Tables

/** The session's shingle table keeps only the sorted 56-bit shingle
  * hashes, is built from the documents' (doc_id, text) rather than from
  * the tokenized corpus, and every near-dup verify runs `graft_overlap`
  * over it.
  *
  *   - Schema: the cached shingle relation is exactly (doc_id, hs), and
  *     q25 reads no cached relation holding string arrays.
  *   - Storage: q79 alone caches the documents and the shingle table, and
  *     no tokenized corpus.
  *   - One table: q25, q79, q161, q74 and `minhashCandidates` over a
  *     (doc_id, text) projection all read one shingle table.
  *   - One split: the shingle build tokenizes each row once.
  *   - Equivalence: the hash verify equals the string-set restatement
  *     (round(|A∩B| / |A∪B|, 4) over the shingle strings) row for row,
  *     on every q25 candidate over sf0.001 and on an adversarial fixture.
  *   - Cuts: q25 cuts on the ROUNDED Jaccard (a pair at 1402/2003 ≈
  *     0.699950 rounds to 0.7 and is kept); q74 cuts on the UNROUNDED
  *     one (the same pair is not a near-dup, a pair at exactly 7/10 is). */
class ShingleStoreSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** Every node of `p`, descending into AQE's wrappers and stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p.collect { case n => n }.flatMap {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case n => Seq(n)
  }

  /** Every cached relation `df` reads, directly or through the cached
    * plans of the relations it reads (which AQE may wrap). */
  private def cachedRelations(df: DataFrame): Seq[InMemoryRelation] = {
    def scans(p: SparkPlan): Seq[InMemoryRelation] =
      nodes(p).collect { case s: InMemoryTableScanExec => s.relation }
        .flatMap(r => r +: scans(r.cacheBuilder.cachedPlan))
    val top = df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r
    }
    (top ++ top.flatMap(r => scans(r.cacheBuilder.cachedPlan)))
      .distinctBy(_.cacheBuilder.cachedColumnBuffers.id)
  }

  private def isStringArray(f: StructField): Boolean = f.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  private def shingleEntries: Int = Artifacts.held.count(_._1 == "shingled")

  private def run(q: String): DataFrame = {
    val df = SparkEntry.queries(q)(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    df
  }

  /** The cached relation of the session's one shingle table. */
  private def shingleRelation: InMemoryRelation = {
    val held = Artifacts.held.collect { case ("shingled", ds: Dataset[_]) => ds }
    assert(held.size == 1, s"shingle entries: ${Artifacts.held.map(_._1)}")
    held.head.queryExecution.withCachedData match {
      case r: InMemoryRelation => r
      case p => fail(s"the shingle entry is not a cached relation:\n$p")
    }
  }

  /** Distinct 3-word shingles, restated with an index lambda rather than
    * the engine's shifted slices: the same tokenization, an independent
    * construction. */
  private def stringShingles(docs: DataFrame): DataFrame = {
    val t = split(lower(trim(col("text"))), "\\s+")
    docs.select(col("doc_id"), t.as("t"))
      .select(col("doc_id"),
        when(size(col("t")) >= 3,
          array_distinct(transform(sequence(lit(0), size(col("t")) - 3),
            i => concat_ws(" ", col("t")(i), col("t")(i + 1), col("t")(i + 2)))))
          .as("sh"))
      .filter(size(col("sh")) > 0)
  }

  /** The string-set verify over (doc_a, doc_b) pairs. */
  private def stringJaccard(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val sh = stringShingles(docs)
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sha")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("shb")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        round(size(array_intersect(col("sha"), col("shb"))).cast("double") /
          size(array_union(col("sha"), col("shb"))), 4).as("jaccard"))
  }

  private def rows(df: DataFrame): Set[(Long, Long, Double)] =
    df.select("doc_a", "doc_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def words(prefix: String, n: Int): String =
    (0 until n).map(i => s"$prefix$i").mkString(" ")

  // Doc ids of the adversarial fixture's planted pairs.
  private val (atA, atB) = (20L, 21L)        // 7 of 10 shingles: exactly 0.7
  private val (upA, upB) = (30L, 31L)        // 1402/2003 ≈ 0.6999501 → 0.7
  private val (lowA, lowB) = (40L, 41L)      // 1395/1993 ≈ 0.6999498 → 0.6999

  /** Short docs (no shingle), identical docs, a doc repeating a shingle
    * and three planted pairs around the 0.7 cut. Each planted pair is a
    * prefix of its partner, so |A∩B| = |A| and |A∪B| = |B|. */
  private lazy val fixture: DataFrame = {
    val s = spark
    import s.implicits._
    Seq(
      1L -> "", 2L -> "one", 3L -> "two words",
      10L -> words("same", 12), 11L -> words("same", 12),
      12L -> "p q r p q r p q r s t u v w",
      13L -> "p q r s t u v w x",
      atA -> words("at", 9), atB -> words("at", 12),
      upA -> words("up", 1404), upB -> words("up", 2005),
      lowA -> words("low", 1397), lowB -> words("low", 1995))
      .toDF("doc_id", "text")
  }

  test("the shingle relation is (doc_id, hs); q25 reads no cached string array") {
    Artifacts.clear(spark)
    val q25 = run("q25_docs_minhash_neardup")
    val rels = cachedRelations(q25)
    val shingle = rels.filter(_.output.exists(_.name == "hs"))
    assert(shingle.size == 1, s"expected one shingle relation, got $shingle")
    assert(shingle.head.schema.fields.toSeq
      .map(f => f.name -> f.dataType.simpleString) ==
      Seq("doc_id" -> "bigint", "hs" -> "array<bigint>"),
      s"shingle relation schema: ${shingle.head.schema.simpleString}")
    val stringRels = rels.filter(_.schema.fields.exists(isStringArray))
    assert(stringRels.isEmpty,
      s"cached relations with string arrays: ${stringRels.map(_.schema.simpleString)}")
    assert(shingleEntries == 1)
  }

  test("q79 alone caches the documents and the shingle table, no tokenized corpus") {
    SparkTestSession.stop() // a fresh context: no other suite's persisted frames
    val s = spark
    run("q79_dedup_clusters")
    assert(!Artifacts.held.exists(_._1 == "tokenized"),
      s"entries: ${Artifacts.held.map(_._1)}")
    val docs = Tables(s, sfDir, "documents").queryExecution.withCachedData
      .collectFirst { case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id }
      .getOrElse(fail("documents is not read from a cached relation"))
    val shingle = shingleRelation.cacheBuilder.cachedColumnBuffers.id
    // The CC loop's lineage cuts hold their blocks until they are cleaned;
    // everything else stored is a cached relation.
    val cuts = s.sparkContext.getPersistentRDDs.filter(_._2.isCheckpointed).keySet
    val stored = s.sparkContext.getRDDStorageInfo.toSeq.filterNot(i => cuts(i.id))
    assert(stored.map(_.id).sorted == Seq(docs, shingle).sorted,
      s"stored: ${stored.map(i => s"${i.id} ${i.name}")}")
  }

  test("q25, q79, q161, q74 and minhashCandidates read one shingle table") {
    Artifacts.clear(spark)
    val outs = Seq("q25_docs_minhash_neardup", "q79_dedup_clusters",
      "q161_split_leakage_audit", "q74_incremental_dedup").map(run)
    val cand = DocQueries.minhashCandidates(
      Tables(spark, sfDir, "documents").select("doc_id", "text"))
    cand.write.format("noop").mode("overwrite").save()
    assert(shingleEntries == 1,
      s"shingle tables built: ${Artifacts.held.map(_._1)}")
    val shingleRdds = (outs :+ cand).flatMap(cachedRelations)
      .filter(_.output.exists(_.name == "hs"))
      .map(_.cacheBuilder.cachedColumnBuffers.id).distinct
    assert(shingleRdds.size == 1, s"shingle relations read: $shingleRdds")
  }

  test("the shingle build splits each row once") {
    Artifacts.clear(spark)
    run("q25_docs_minhash_neardup")
    val build = shingleRelation.cacheBuilder.cachedPlan
    val splits = nodes(build)
      .flatMap(_.expressions.flatMap(_.collect { case e: StringSplit => e }))
    assert(splits.size == 1, s"split runs ${splits.size} times per row:\n$build")
  }

  test("hash verify ≡ string-set verify on every q25 candidate over sf0.001") {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val cand = DocQueries.minhashCandidates(docs)
    val byString = rows(stringJaccard(docs, cand))
    assert(byString.nonEmpty && byString.size == cand.count(),
      "every candidate has a restated Jaccard")
    // threshold 0 keeps every candidate: the verify column itself
    assert(rows(DocQueries.minhashNeardup(docs, 0.0)) == byString)
    // and the registered q25 is the same verify cut at 0.7
    val q25 = SparkEntry.queries("q25_docs_minhash_neardup")(spark, sfDir)
    assert(rows(q25) == byString.filter(_._3 >= 0.7))
  }

  test("hash verify ≡ string-set verify on the adversarial fixture") {
    val cand = DocQueries.minhashCandidates(fixture)
    val byString = rows(stringJaccard(fixture, cand))
    val planted = Set((10L, 11L), (atA, atB), (upA, upB), (lowA, lowB))
    assert(planted.subsetOf(byString.map(r => (r._1, r._2))),
      s"the planted pairs must be MinHash candidates: $byString")
    assert(rows(DocQueries.minhashNeardup(fixture, 0.0)) == byString)
    val short = Set(1L, 2L, 3L)
    assert(!byString.exists(r => short(r._1) || short(r._2)),
      "docs under 3 tokens have no shingles")
  }

  test("q25 cuts on the rounded Jaccard: 0.699950 is kept at 0.7, 0.699950 − ε is not") {
    val got = rows(DocQueries.minhashNeardup(fixture, 0.7))
    assert(got.contains((10L, 11L, 1.0)), "identical docs")
    assert(got.contains((atA, atB, 0.7)), "exactly 7/10")
    assert(got.contains((upA, upB, 0.7)),
      s"1402/2003 rounds to 0.7 and must pass the 0.7 cut: $got")
    assert(!got.exists(r => (r._1, r._2) == (lowA, lowB)),
      s"1395/1993 rounds to 0.6999: $got")
  }

  test("q74 cuts on the unrounded Jaccard: exactly 0.7 is a near-dup, 1402/2003 is not") {
    val delta: Column = col("doc_id").isin(atA, upA, 12L)
    val nearDup = DocQueries.incrementalDedup(fixture, delta, 0.7, 1000000)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(nearDup(atA), s"7/10 sits on the threshold: $nearDup")
    assert(!nearDup(upA), s"1402/2003 < 0.7 unrounded: $nearDup")
  }
}
