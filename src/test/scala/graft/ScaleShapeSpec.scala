package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.exceptions.TestFailedException
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DocQueries
import graft.sources.Tables

/** How the document family GROWS, pinned at ×1 and ×4 of the sf0.001
  * corpus. The shipped test data has 500 documents at every scale
  * factor, so the ×4 corpus is amplified: copy c shifts doc_id by c·10⁷
  * and suffixes every token with `_c`. That changes every shingle hash,
  * so band buckets do not collide across copies, while each copy keeps
  * the original's near-duplicate structure exactly (Jaccard is invariant
  * under token renaming). Each copy is then an independent instance of
  * the same problem, and a scale-safe operator must grow linearly.
  *
  * Every row asserts the exact count at both factors (silent drift) and
  * the growth shape SCALE.md claims (the scale argument). Timing is left
  * to perfbench. The negative control builds ×4 from verbatim copies and
  * shows the same linearity check fails on the banded candidates, so the
  * spec can see quadratic growth. */
class ScaleShapeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private def spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  private lazy val root: Path =
    Files.createTempDirectory(Paths.get("target"), "scale-shape-")
  private val written = scala.collection.mutable.ListBuffer.empty[String]

  /** ×k copy of the sf0.001 documents under `root`; copies 1..k-1 are
    * token-salted unless `salted` is false. */
  private def amplified(k: Int, salted: Boolean): String = {
    val dir = root.resolve(if (salted) s"x$k" else s"x$k-verbatim").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    (0 until k).map { c =>
      val text =
        if (salted && c > 0) regexp_replace(col("text"), "(\\S+)", s"$$1_$c")
        else col("text")
      docs.select((col("doc_id") + lit(c * 10000000L)).as("doc_id"),
        text.as("text"), col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _).write.parquet(s"$dir/documents.parquet")
    written += dir
    dir
  }

  private lazy val x1 = amplified(1, salted = true)
  private lazy val x4 = amplified(4, salted = true)
  private def docs(dir: String) = Tables(spark, dir, "documents")

  override def afterAll(): Unit = {
    try {
      Artifacts.clear(spark)
      written.foreach(Tables.release(spark, _))
      if (written.nonEmpty)
        org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    } finally super.afterAll()
  }

  /** Growth from ×1 to ×4 that each row may claim. */
  private sealed abstract class Shape(val what: String) {
    def holds(a: Long, b: Long): Boolean
  }
  private case object Exactly4 extends Shape("exactly 4×") {
    def holds(a: Long, b: Long): Boolean = b == 4 * a
  }
  /** Within ±0.5 of 4×; quadratic growth would be ~16×. */
  private case object NearLinear extends Shape("near-linear") {
    def holds(a: Long, b: Long): Boolean = b >= 3.5 * a && b <= 4.5 * a
  }
  /** About √4 = 2×; linear growth would be 4×. */
  private case object SquareRoot extends Shape("≈ 2× (√4)") {
    def holds(a: Long, b: Long): Boolean = b >= 1.5 * a && b <= 2.5 * a
  }
  private case object Flat extends Shape("flat") {
    def holds(a: Long, b: Long): Boolean = b == a
  }

  private def assertShape(name: String, a: Long, b: Long, shape: Shape): Unit =
    assert(a > 0 && shape.holds(a, b),
      s"$name grew $a → $b (${b.toDouble / a}×), expected ${shape.what}")

  /** Count at ×1 and ×4, then the shape and the exact pair. */
  private def pin(name: String, shape: Shape, expected: (Long, Long))(
      count: String => Long): Unit = {
    val got = (count(x1), count(x4))
    assertShape(name, got._1, got._2, shape)
    assert(got == expected, s"$name at ×1, ×4")
  }

  test("documents and q20 exact-dedup survivors grow exactly 4×") {
    pin("documents", Exactly4, (500L, 2000L))(docs(_).count())
    pin("q20 survivors", Exactly4, (500L, 2000L))(
      DocQueries.q20DocsExactDedup(spark, _).count())
  }

  test("MinHash banded candidates grow exactly 4×; q25 verified pairs near-linearly") {
    pin("minhash candidates", Exactly4, (60L, 240L))(
      d => DocQueries.minhashCandidates(docs(d)).count())
    pin("q25 pairs", NearLinear, (28L, 111L))(
      DocQueries.q25DocsMinhashNeardup(spark, _).count())
  }

  test("q66 hash-order prefix candidates grow near-linearly; q66 and q87 pairs exactly 4×") {
    pin("q66 candidates", NearLinear, (5542L, 21891L))(
      d => DocQueries.containmentCandidates(docs(d), 0.8, dfOrder = false).count())
    pin("q66 pairs", Exactly4, (56L, 224L))(
      DocQueries.q66DocsContainment(spark, _).count())
    pin("q87 pairs", Exactly4, (28L, 112L))(
      DocQueries.q87DocsJaccardJoin(spark, _).count())
  }

  test("q93 spans and q51 contaminated docs grow exactly 4×; q49 samples near-linearly") {
    pin("q93 spans", Exactly4, (1317L, 5268L))(
      DocQueries.q93ExactSubstrSpans(spark, _).count())
    pin("q51 contaminated", Exactly4, (25L, 100L))(
      DocQueries.q51Decontaminate(spark, _).count())
    pin("q49 samples", NearLinear, (292L, 1122L))(
      DocQueries.q49StratifiedSample(spark, _).count())
  }

  test("q79 clusters: nodes and clusters near-linear, max size and rounds constant") {
    val stats = Seq(x1, x4).map { d =>
      val pairs = DocQueries.minhashNeardup(docs(d), 0.7).select("doc_a", "doc_b")
      val (cl, rounds) = DocQueries.dedupClustersWithRounds(pairs)
      val r = cl.agg(count(lit(1)), countDistinct(col("cluster_id")),
        max(col("cluster_size"))).collect()(0)
      (r.getLong(0), r.getLong(1), r.getLong(2), rounds.toLong)
    }
    val Seq(a, b) = stats
    assertShape("q79 nodes", a._1, b._1, NearLinear)
    assertShape("q79 clusters", a._2, b._2, NearLinear)
    assertShape("q79 max cluster size", a._3, b._3, Flat)
    assertShape("q79 rounds", a._4, b._4, Flat)
    assert(stats == Seq((45L, 21L, 4L, 2L), (178L, 83L, 4L, 2L)))
  }

  test("q100 √n buckets grow as √4, not 4×") {
    pin("q100 buckets", SquareRoot, (23L, 48L)) { d =>
      val w = math.max(1L, math.sqrt(docs(d).count().toDouble).round)
      docs(d).select(expr(s"doc_id div $w")).distinct().count()
    }
  }

  test("BM25 postings after the query-vocabulary prune stay flat") {
    // Salted copies never match the literal query terms, so the prune
    // keeps copy 0's postings only.
    val vocab = DocQueries.bm25QuerySet.flatMap(_._2).distinct
    pin("bm25 postings", Flat, (7430L, 7430L))(
      docs(_).select(explode(split(lower(trim(col("text"))), "\\s+")).as("term"))
        .filter(col("term").isin(vocab: _*)).count())
  }

  test("negative control: verbatim copies collide in every band, and the linearity check fails") {
    val verbatim = amplified(4, salted = false)
    val c1 = DocQueries.minhashCandidates(docs(x1)).count()
    val c4 = DocQueries.minhashCandidates(docs(verbatim)).count()
    intercept[TestFailedException](assertShape("minhash candidates", c1, c4, Exactly4))
    intercept[TestFailedException](assertShape("minhash candidates", c1, c4, NearLinear))
    // Each original pair becomes 4 × 4 pairs, and each document gains
    // 3 twins: super-linear beyond the quadratic 16×.
    assert(c4 >= 16 * c1, s"verbatim ×4 candidates $c4 against $c1 at ×1")
    info(s"verbatim ×4: $c4 candidates against $c1 at ×1")
  }
}
