package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DocQueries

/** Behavior tests for q79's connected-component cluster assignment and
  * q80's rational-idf keyword extraction.
  *
  * The cluster tests target the properties the oracle hash alone can't
  * localize: transitive chains collapse to one cluster, components don't
  * bleed into each other, and — the path-halving payoff — a LONG path
  * (diameter far beyond a few naive propagation rounds) still converges
  * inside the operator's round cap. A seeded random graph is checked
  * against an independent in-memory union-find. */
class DedupClustersSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def clustersOf(pairs: Seq[(Long, Long)]): Map[Long, (Long, Long, Boolean)] =
    DocQueries.dedupClusters(pairs.toDF("doc_a", "doc_b"))
      .as[(Long, Long, Long, Boolean)].collect()
      .map { case (d, c, s, k) => d -> (c, s, k) }.toMap

  test("a transitive chain is ONE cluster with the min id canonical") {
    // 1-2, 2-3, 3-4: no direct 1-4 pair, only transitive.
    val got = clustersOf(Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(got(1L) == ((1L, 4L, true)))
    assert(got(2L) == ((1L, 4L, false)))
    assert(got(3L) == ((1L, 4L, false)))
    assert(got(4L) == ((1L, 4L, false)))
    assert(got(10L) == ((10L, 2L, true)))
    assert(got(11L) == ((10L, 2L, false)))
    assert(got.size == 6) // singletons (docs in no pair) are absent
  }

  test("a 64-node path converges within the round cap (path halving)") {
    val path = (100L until 163L).map(i => (i, i + 1))
    val got = clustersOf(path)
    assert(got.size == 64)
    assert(got.values.forall { case (c, s, _) => c == 100L && s == 64L })
    assert(got.count { case (d, (_, _, canon)) => canon && d == 100L } == 1)
  }

  test("random graph agrees with an independent union-find") {
    val rnd = new scala.util.Random(7)
    val pairs = Seq.fill(120) {
      val a = rnd.nextInt(80).toLong; val b = rnd.nextInt(80).toLong
      (math.min(a, b), math.max(a, b))
    }.filter(p => p._1 != p._2).distinct
    // reference: in-memory union-find with min-root normalization
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val want = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      .map(d => d -> find(d)).toMap
    val got = clustersOf(pairs)
    assert(got.view.mapValues(_._1).toMap == want)
    // sizes agree with the reference partition
    val wantSizes = want.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    got.foreach { case (d, (c, s, canon)) =>
      assert(s == wantSizes(c), s"size mismatch for doc $d")
      assert(canon == (d == c))
    }
  }

  test("q101 semdedupClusters maps the embedding pair frame onto the same assignment") {
    // The wrapper's whole job is column mapping (vec_* in, vec_id out)
    // around the proven dedupClusters — pin it on a two-component graph.
    val pairs = Seq((1L, 2L), (2L, 5L), (7L, 9L)).toDF("vec_a", "vec_b")
    val got = graft.queries.EmbedQueries.semdedupClusters(pairs)
      .orderBy("vec_id")
      .as[(Long, Long, Long, Boolean)].collect().toSeq
    assert(got == Seq(
      (1L, 1L, 3L, true), (2L, 1L, 3L, false), (5L, 1L, 3L, false),
      (7L, 7L, 2L, true), (9L, 7L, 2L, false)))
  }

  test("tf-idf ranks doc-frequent corpus-rare terms first") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"),
      (3L, "cherry cherry cherry date")
    ).toDF("doc_id", "text")
    val rows = DocQueries.tfidfKeywords(docs, 2)
      .orderBy("doc_id", "rank")
      .as[(Long, Long, String, Long, Long, Double)].collect().toSeq
    // n_docs=3; df: apple 1, banana 2, cherry 2, date 1
    assert(rows == Seq(
      (1L, 1L, "apple", 2L, 1L, 6.0),   // 2*3/1
      (1L, 2L, "banana", 1L, 2L, 1.5),  // 1*3/2
      (2L, 1L, "banana", 1L, 2L, 1.5),  // 1.5 tie broken term-asc
      (2L, 2L, "cherry", 1L, 2L, 1.5),
      (3L, 1L, "cherry", 3L, 2L, 4.5),  // 3*3/2
      (3L, 2L, "date", 1L, 1L, 3.0)))
  }
}
