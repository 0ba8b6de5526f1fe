package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DocQueries

/** q119 unigram-trainer guarantees beyond the value oracle: the EM
  * lands on whole-word pieces when they dominate, the Viterbi
  * segmentations exactly tile the corpus (character-mass conservation),
  * single characters survive every prune, the result is stable under
  * input partitioning, the per-word Viterbi fold matches a plain-Scala
  * DP, and training runs a bounded number of Spark jobs. */
class UnigramSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def train(docs: Seq[(Long, String)], vocabSize: Int = 40) =
    DocQueries.unigramTrain(
      docs.toDF("doc_id", "text")
        .select(col("doc_id"), lit("en").as("lang"), lit("s").as("source"),
          col("text")),
      maxPieceLen = 6, seedTop = 1000, emRounds = 2,
      vocabSize = vocabSize, maxWordLen = 16)
      .as[(Long, String, Long)].collect().toSeq

  test("EM converges to whole-word pieces on a whole-word corpus") {
    // Single-occurrence sub-pieces cannot beat the word's own seed count
    // under the max-product criterion, so both words segment as
    // themselves in round 1 and the counts lock in.
    val out = train(Seq((1L, "foo bar foo"), (2L, "foo")))
    val byPiece = out.map(t => t._2 -> t._3).toMap
    assert(byPiece("foo") == 3L, s"foo as one piece 3 times: $out")
    assert(byPiece("bar") == 1L, s"bar as one piece once: $out")
    // Whole words rank above every character (chars carry zero usage).
    val ranks = out.map(t => t._2 -> t._1).toMap
    assert(ranks("foo") == 1L && ranks("bar") == 2L)
    out.filter(t => t._2.length == 1).foreach(t =>
      assert(t._3 == 0L, s"char ${t._2} must carry zero usage here"))
  }

  test("character-mass conservation: segmentations exactly tile the corpus") {
    // With an unbounded prune, the output IS the final usage table (plus
    // protected chars), so sum(cnt * len(piece)) must equal the corpus's
    // total character mass — any drift means a word was dropped,
    // double-segmented, or a backtrace terminated early.
    val docs = (0L until 40L).map(i =>
      (i, s"alpha bet${i % 3} gamma${i % 5} d e alphabet"))
    val out = train(docs, vocabSize = 100000)
    val pieceMass = out.map(t => t._3 * t._2.length).sum
    val corpusMass = docs.flatMap(_._2.split("\\s+")).map(_.length.toLong).sum
    assert(pieceMass == corpusMass, s"piece mass $pieceMass != corpus $corpusMass")
  }

  test("every corpus character survives the prune at any vocab size") {
    val docs = Seq((1L, "abcdef ghij klmno pqrst uvwxyz a1b2"))
    val out = train(docs, vocabSize = 3)
    val kept = out.map(_._2).filter(_.length == 1).toSet
    val corpusChars = docs.flatMap(_._2.split("\\s+")).flatMap(_.toSeq)
      .map(_.toString).toSet
    assert(corpusChars.subsetOf(kept),
      s"missing chars: ${corpusChars.diff(kept)}")
  }

  test("q122 encode: bounds and whole-word collapse on the fixture") {
    val out = DocQueries.q122UnigramEncode(spark, "/root/testdata/sf0.01")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.length == 500)
    out.foreach { case (id, nw, np, nc) =>
      assert(np >= nw && np <= nc,
        s"doc $id: pieces $np outside [words $nw, chars $nc]")
    }
    // The pruned 40-piece vocab holds the frequent whole words and
    // multigraphs, so corpus-wide pieces-per-word must sit well under
    // the char-fallback ceiling (measured 2.65 vs 4.51 on the fixture —
    // the 0.65 band flags a collapse to near-char segmentation, not
    // ordinary drift).
    val (pieces, words, chars) =
      (out.map(_._3).sum.toDouble, out.map(_._2).sum.toDouble, out.map(_._4).sum.toDouble)
    assert(pieces / words < 0.65 * (chars / words),
      f"encoder barely compresses: ${pieces / words}%.2f pieces/word vs ${chars / words}%.2f chars/word")
  }

  test("result is identical under any input partitioning") {
    val docs = (0L until 30L).map(i => (i, s"w${i % 7} common w${(i + 2) % 5}"))
    val base = train(docs)
    for (p <- Seq(1, 7)) {
      val repart = DocQueries.unigramTrain(
        docs.toDF("doc_id", "text")
          .select(col("doc_id"), lit("en").as("lang"), lit("s").as("source"),
            col("text")).repartition(p),
        maxPieceLen = 6, seedTop = 1000, emRounds = 2,
        vocabSize = 40, maxWordLen = 16)
        .as[(Long, String, Long)].collect().toSeq
      assert(repart == base, s"vocab moved under repartition($p)")
    }
  }

  /** The Viterbi DP restated in plain Scala over one word's candidates
    * (i, j, p): best(j) is the highest best(i)·p over reachable starts i,
    * the lowest i on an exact tie; None marks an unreachable position. */
  private def referenceViterbi(w: String, cands: Seq[(Int, Int, Double)])
      : Seq[String] = {
    val best = Array.fill[Option[(Double, Int)]](w.length + 1)(None)
    best(0) = Some((1.0, -1))
    for (j <- 1 to w.length)
      best(j) = cands.filter(_._2 == j)
        .flatMap { case (i, _, p) => best(i).map(b => (b._1 * p, i)) }
        .reduceOption((a, b) =>
          if (b._1 > a._1 || (b._1 == a._1 && b._2 < a._2)) b else a)
    if (best(w.length).isEmpty) Nil
    else Iterator.iterate(w.length)(j => best(j).get._2).takeWhile(_ > 0)
      .map(j => w.substring(best(j).get._2, j)).toList
  }

  test("the Viterbi fold matches a plain-Scala DP, ties and dead ends included") {
    // (word, freq, piece -> p): "abc" ties at its end (a·bc and ab·c
    // both score 0.25), "xyz" has only zero-probability pieces, so every
    // score ties at 0.0, "qrs" cannot reach its end (no piece covers r),
    // and "banana" has distinct probabilities.
    val words = Seq(
      ("abc", 3L, Map("a" -> 0.5, "b" -> 0.5, "c" -> 0.5, "ab" -> 0.5, "bc" -> 0.5)),
      ("xyz", 2L, Map("x" -> 0.0, "y" -> 0.0, "z" -> 0.0, "xy" -> 0.0)),
      ("qrs", 5L, Map("q" -> 0.5, "s" -> 0.5)),
      ("banana", 7L, Map("b" -> 0.1, "a" -> 0.2, "n" -> 0.15, "an" -> 0.3,
        "na" -> 0.25, "ana" -> 0.05, "ban" -> 0.4)))
    val lattice = for {
      (w, freq, vocab) <- words
      i <- 0 until w.length
      j <- i + 1 to w.length
      p <- vocab.get(w.substring(i, j))
    } yield (w, freq, i, j, p)
    val got = DocQueries.viterbi(lattice.toDF("w", "freq", "i", "j", "p"))
      .as[(String, Long, String)].collect().toSeq.sorted
    val want = words.flatMap { case (w, freq, _) =>
      referenceViterbi(w, lattice.filter(_._1 == w).map(c => (c._3, c._4, c._5)))
        .map(piece => (w, freq, piece))
    }.sorted
    assert(got == want)
    assert(want.filter(_._1 == "abc").map(_._3).toSet == Set("a", "bc"),
      "the tie at the end of abc goes to the lowest start")
    assert(want.filter(_._1 == "xyz").map(_._3).toSet == Set("xy", "z"))
    assert(!want.exists(_._1 == "qrs"))
  }

  test("q119 runs a bounded number of Spark jobs") {
    val dir = "/root/testdata/sf0.001"
    val sc = spark.sparkContext
    graft.sources.Tables(spark, dir, "documents").count()
    Artifacts.clear(spark)
    val group = s"unigram-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "q119 job count")
    try {
      DocQueries.q119UnigramTrain(spark, dir).collect()
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // Measured cold over sf0.001: 31 jobs. The DP unrolled as 16 forward
    // and 16 backtrace joins, each behind a lineage cut, ran 171–172;
    // the bound sits under a fifth of that.
    assert(jobs.get > 0 && jobs.get <= 33, s"q119 ran ${jobs.get} jobs (bound 33)")
  }
}
