package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Behavior pins for per-source quality calibration (q108): the
  * source-fairness property that is the operator's reason to exist, and
  * the shifted-distribution fixture showing why a raw threshold fails. */
class CalibrationSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.01"

  test("a calibrated global cutoff keeps the same fraction of every source") {
    import spark.implicits._
    val kept = graft.queries.DocQueries.q108QualityCalibration(spark, sf)
      .groupBy("source")
      .agg(count(when(col("keep_fair"), 1)).as("kept"),
        count(lit(1)).as("total"))
      .as[(String, Long, Long)].collect()
    // The fixture's sources are equal-sized (25 docs each), so identical
    // acceptance FRACTIONS mean identical kept COUNTS.
    assert(kept.map(_._3).distinct.length == 1, "fixture changed shape")
    assert(kept.map(_._2).distinct.length == 1,
      s"calibrated cutoff must keep the same count per source: ${kept.toSeq}")
  }

  test("raw thresholds skew the mix; calibrated ones do not") {
    import spark.implicits._
    // Two sources with SHIFTED quality distributions: every generous-doc
    // outscores every strict-doc. A raw global threshold keeps 100% of
    // one and 0% of the other; the calibrated cutoff keeps half of each.
    val docs = ((1 to 20).map(i => (i.toLong, "generous", 0.8 + i * 0.001)) ++
      (21 to 40).map(i => (i.toLong, "strict", 0.3 + i * 0.001)))
      .toDF("doc_id", "source", "quality")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(asc("quality"), asc("doc_id"))
    val cal = docs.withColumn("cal", percent_rank().over(w))
    val rawKept = cal.filter(col("quality") >= 0.6)
      .groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(rawKept.getOrElse("generous", 0L) == 20L &&
      rawKept.getOrElse("strict", 0L) == 0L,
      s"the raw-threshold failure mode did not reproduce: $rawKept")
    val calKept = cal.filter(col("cal") >= 0.5)
      .groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(calKept("generous") == 10L && calKept("strict") == 10L,
      s"calibration must equalize acceptance: $calKept")
  }

  /** The lower median per source read off the (source, k) value
    * histogram (the MAD gate's median), and the same rows cut from a full
    * exactStratumRank output, both as sorted (source, k). */
  private def histogramMedian(
      df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    graft.queries.DocQueries.withLowerMedian(
        df.groupBy("source", "k").agg(count(lit(1)).as("cnt")), "k", "med")
      .select(col("source"), col("med").as("k")).distinct()
      .orderBy("source", "k").collect().toSeq

  private def filteredMedian(
      ranked: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] =
    ranked.filter(col("rnk") === shiftright(col("grp_n") + lit(1L), 1))
      .select("source", "k").orderBy("source", "k").collect().toSeq

  test("exactStratumRank ≡ naive per-stratum window at arbitrary bucket counts") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Adversarial shape: one dominant stratum (the 100 TB web-crawl
    // case), one tiny one, and a CLUSTERED key run (what a
    // constant-quality stratum degenerates to — consecutive composite
    // keys differing only in the doc_id tie-break bits). Keys are
    // distinct within each stratum, as the operator requires.
    val rows =
      (1 to 400).map(i => ("crawl", 1000000L + i)) ++   // clustered run
      (1 to 100).map(i => ("crawl", 5000000L + i * 37L)) ++ // spread tail
      (1 to 3).map(i => ("books", i.toLong))
    val df = rows.toDF("source", "k")
    val naive = df.withColumn("rnk_naive",
      row_number().over(Window.partitionBy("source").orderBy("k")))
    for (b <- Seq(2, 3, 7, 50)) {
      val two = graft.queries.DocQueries
        .exactStratumRank(df, Seq("source"), "k", b)
      val diff = two.join(naive, Seq("source", "k"))
        .filter(col("rnk") =!= col("rnk_naive")).count()
      assert(diff == 0L, s"rank mismatch at nBuckets=$b")
      // grp_n must be the true stratum size (the percent_rank/ntile
      // denominator downstream).
      val ns = two.groupBy("source").agg(max("grp_n").as("n"))
        .as[(String, Long)].collect().toMap
      assert(ns("crawl") == 500L && ns("books") == 3L,
        s"grp_n wrong at nBuckets=$b: $ns")
      // The histogram lower median ≡ the filtered full rank, row for row.
      assert(histogramMedian(df) == filteredMedian(two),
        s"histogram median diverged from the filtered full rank at nBuckets=$b")
    }
  }

  test("exactStratumRank ranks a NULL stratum like Window.partitionBy does") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // Window.partitionBy treats NULL as its own partition; the
    // decomposition's back-joins must be null-safe or NULL-stratum rows
    // silently vanish (the r14 ADVICE finding). Fixture: a normal
    // stratum plus a NULL one.
    val df = ((1 to 20).map(i => (Some("web"), i.toLong * 3)) ++
      (1 to 9).map(i => (None: Option[String], i.toLong * 5)))
      .toDF("source", "k")
    val naive = df.withColumn("rnk_naive",
      row_number().over(Window.partitionBy("source").orderBy("k")))
    val two = graft.queries.DocQueries
      .exactStratumRank(df, Seq("source"), "k", 3)
    assert(two.count() == 29L, "NULL-stratum rows were dropped")
    val diff = two.join(naive, two("k") === naive("k") &&
        (two("source") <=> naive("source")))
      .filter(col("rnk") =!= col("rnk_naive")).count()
    assert(diff == 0L, "NULL-stratum ranks diverged from the naive window")
    val nulls = two.filter(col("source").isNull)
      .agg(max("grp_n"), max("rnk")).as[(Long, Long)].collect()(0)
    assert(nulls == ((9L, 9L)), s"NULL stratum mis-sized: $nulls")
    val at = histogramMedian(df)
    assert(at.exists(_.isNullAt(0)),
      s"histogram median dropped the NULL stratum: $at")
    assert(at == filteredMedian(two),
      "NULL-stratum histogram median diverged from the filtered full rank")
  }

  test("exactStratumRank with no stratum ≡ row_number over the whole frame") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // The global stratum: an empty key list joins every row to the one
    // cut set and the one offset table (no `<=>` terms to AND together).
    val df = ((1 to 60).map(i => 1000L + i) ++ (1 to 15).map(i => i * 97L))
      .toDF("k")
    val naive = df.withColumn("rnk_naive", row_number().over(Window.orderBy("k")))
    for (b <- Seq(2, 3, 7)) {
      val two = graft.queries.DocQueries.exactStratumRank(df, Seq(), "k", b)
      assert(two.count() == 75L, s"global rank lost rows at nBuckets=$b")
      val diff = two.join(naive, Seq("k"))
        .filter(col("rnk") =!= col("rnk_naive") || col("grp_n") =!= 75L)
        .count()
      assert(diff == 0L, s"global rank diverged from row_number at nBuckets=$b")
    }
  }

  test("q70's closed-form decile ≡ ntile(10) over the naive window") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // n = 25 (not divisible by 10: first 5 buckets get 3, rest get 2)
    // and n = 7 (< 10: every row its own bucket) in one frame.
    val df = ((1 to 25).map(i => ("en", i.toLong)) ++
      (1 to 7).map(i => ("fr", i.toLong))).toDF("lang", "k")
    val w = Window.partitionBy("lang").orderBy("k")
    val naive = df.withColumn("nt", ntile(10).over(w))
    val two = graft.queries.DocQueries
      .exactStratumRank(df, Seq("lang"), "k", 4)
      .withColumn("decile", expr(
        """CASE WHEN rnk <= (grp_n % 10) * (grp_n div 10 + 1)
          |     THEN (rnk + grp_n div 10) div (grp_n div 10 + 1)
          |     ELSE (grp_n % 10) +
          |          (rnk - (grp_n % 10) * (grp_n div 10 + 1)
          |           + grp_n div 10 - 1) div (grp_n div 10)
          |END""".stripMargin).cast("int"))
    val diff = two.join(naive, Seq("lang", "k"))
      .filter(col("decile") =!= col("nt")).count()
    assert(diff == 0L, "closed-form decile diverged from ntile")
  }
}
