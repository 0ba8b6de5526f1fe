package graft

import org.scalatest.funsuite.AnyFunSuite

/** Value-level pins for the q133 cross-source overlap matrix on a
  * constructed corpus where every pairwise shingle intersection is
  * known by hand, plus structural bounds on the fixture. The DuckDB
  * oracle certifies the registered query's exact output; these pins
  * certify the OPERATOR on inputs the fixture doesn't exercise
  * (zero-overlap pairs, within-source duplication). */
class SourceOverlapSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def corpus(rows: Seq[(Long, String, String)]) = {
    import spark.implicits._
    rows.toDF("doc_id", "source", "text")
  }

  test("hand-checked matrix: shared counts, Jaccard ppm, and zero-overlap pair absence") {
    // A: {"a b c","b c d"}; B: {"a b c","b c x"}; C: {"p q r","q r s"}.
    // A∩B = {"a b c"} → jaccard 1/(2+2-1) = 333333 ppm; A∩C = B∩C = ∅.
    val out = graft.queries.DocQueries.sourceOverlap(corpus(Seq(
        (1L, "A", "a b c d"),
        (2L, "B", "a b c x"),
        (3L, "C", "p q r s"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(("A", "B", 1L, 2L, 2L, 333333L)),
      s"zero-overlap pairs must be absent and the A-B cell exact, got ${out.toSeq}")
  }

  test("within-source duplication never inflates a cell: counts are over DISTINCT shingles") {
    // Source A carries the same shingle in two documents; B shares it.
    // shared must be 1, nsh_a must be 1 (distinct per source).
    val out = graft.queries.DocQueries.sourceOverlap(corpus(Seq(
        (1L, "A", "a b c"),
        (2L, "A", "a b c"),
        (3L, "B", "a b c"))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(out.toSeq == Seq(("A", "B", 1L, 1L, 1L, 1000000L)),
      s"duplicated shingles must count once per source, got ${out.toSeq}")
  }

  test("fixture bounds: every cell respects shared <= min(nsh) and jaccard <= 1e6") {
    val out = graft.queries.DocQueries
      .q133SourceOverlap(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.length == 190, s"20 sources -> 190 pairs, got ${out.length}")
    out.foreach { r =>
      val (shared, na, nb, j) =
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(shared >= 1 && shared <= math.min(na, nb),
        s"cell out of bounds: $r")
      assert(j >= 1 && j <= 1000000L, s"jaccard out of range: $r")
      assert(j == shared * 1000000L / (na + nb - shared),
        s"jaccard arithmetic drifted: $r")
    }
  }
}
