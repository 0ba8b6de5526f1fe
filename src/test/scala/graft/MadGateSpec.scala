package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.DocQueries

/** q152 MAD outlier gate: exact lower-median/MAD arithmetic on a hand
  * fixture, the ROBUSTNESS property the gate exists for (a pair of
  * masked outliers that a mean±3σ gate misses — they inflate σ enough
  * to hide under it — while median/MAD flags both), partition
  * invariance of the histogram pipeline, the per-doc table q160/q171
  * read against a naive restatement of the oracle's definition, and a
  * bound on the gate's Spark job count. */
class MadGateSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def df(rows: (Long, String, Long)*) =
    rows.toDF("doc_id", "source", "n_chars")

  test("lower median and MAD are the exact ranked rows") {
    // [10,10,10,10,100]: median = rank-3 value 10; devs [0,0,0,0,90]:
    // MAD = rank-3 value 0; gate dev > 3*0 flags only the 100.
    val out = DocQueries.madOutlierGate(
      df((1L, "s", 10L), (2L, "s", 10L), (3L, "s", 10L), (4L, "s", 10L),
        (5L, "s", 100L)), 3L).collect()(0)
    assert((out.getLong(1), out.getLong(2), out.getLong(3),
      out.getLong(4)) == ((5L, 10L, 0L, 1L)))
  }

  test("even count takes the LOWER median, deterministically") {
    // [1,2,3,4]: rank (4+1) div 2 = 2 -> median 2 (not 2.5 — the
    // statistic must be a concrete row, the cross-engine contract)
    val out = DocQueries.madOutlierGate(
      df((1L, "s", 1L), (2L, "s", 2L), (3L, "s", 3L), (4L, "s", 4L)), 3L)
      .collect()(0)
    assert(out.getLong(2) == 2L)
  }

  test("masked outliers: MAD flags what a mean±3σ gate hides") {
    // 8 docs at 100 chars + 2 at 10 000: the outliers drag the mean to
    // 2 080 and inflate σ to ~3 960, so mean+3σ ≈ 13 960 hides both.
    val rows = (1L to 8L).map(i => (i, "s", 100L)) ++
      Seq((9L, "s", 10000L), (10L, "s", 10000L))
    val vals = rows.map(_._3.toDouble)
    val mean = vals.sum / vals.size
    val sigma = math.sqrt(vals.map(v => (v - mean) * (v - mean)).sum / vals.size)
    val meanGateFlags = vals.count(v => math.abs(v - mean) > 3 * sigma)
    assert(meanGateFlags == 0, "fixture must mask the outliers from 3σ")
    val out = DocQueries.madOutlierGate(df(rows: _*), 3L).collect()(0)
    assert(out.getLong(4) == 2L,
      s"MAD gate flagged ${out.getLong(4)} of the 2 masked outliers")
  }

  test("gate is bit-identical under every partitioning") {
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    val ref = DocQueries.madOutlierGate(docs, 3L)
      .collect().map(_.toSeq).toList
    for (p <- Seq(1, 3, 16)) {
      val got = DocQueries.madOutlierGate(docs.repartition(p), 3L)
        .collect().map(_.toSeq).toList
      assert(got == ref, s"diverged at repartition($p)")
    }
  }

  /** The oracle's definition restated naively: number every doc within
    * its source by (value, doc_id) and keep the row at (n+1) div 2, for
    * the median and then for the MAD over |n_chars − med|. */
  private def naiveDeviations(docs: DataFrame): DataFrame = {
    val bySource = Window.partitionBy("source")
    def lowerMedian(d: DataFrame, v: String, out: String) =
      d.withColumn("rnk",
          row_number().over(bySource.orderBy(col(v), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(bySource))
        .filter(col("rnk") === shiftright(col("n") + lit(1L), 1))
        .select(col("source"), col(v).as(out))
    val dev = docs.join(lowerMedian(docs, "n_chars", "med_chars"), "source")
      .withColumn("dev", abs(col("n_chars") - col("med_chars")))
    dev.join(lowerMedian(dev, "dev", "mad_chars"), "source")
  }

  private def perDoc(d: DataFrame): List[Seq[Any]] =
    d.select("doc_id", "source", "n_chars", "med_chars", "dev", "mad_chars")
      .orderBy("doc_id").collect().map(_.toSeq).toList

  test("madDeviations ≡ the naive per-source row_number median and MAD, row for row") {
    val fixture = Seq[(Long, Option[String], Option[Long])](
      // even count with tied values: lower median = rank 3 of
      // [1,5,5,5,5,9] = 5; devs [4,0,0,0,0,4] → MAD 0
      (1L, Some("a"), Some(5L)), (2L, Some("a"), Some(5L)),
      (3L, Some("a"), Some(9L)), (4L, Some("a"), Some(1L)),
      (5L, Some("a"), Some(5L)), (6L, Some("a"), Some(5L)),
      // a NULL value sorts first: rank 3 of [NULL,3,7,7,10] = 7
      (7L, Some("b"), None), (8L, Some("b"), Some(3L)),
      (9L, Some("b"), Some(7L)), (10L, Some("b"), Some(7L)),
      (11L, Some("b"), Some(10L)),
      // the median itself is NULL: rank 2 of [NULL,NULL,4]
      (12L, Some("c"), None), (13L, Some("c"), None),
      (14L, Some("c"), Some(4L)),
      // a NULL source is dropped, as the join on source drops it
      (15L, None, Some(8L)), (16L, None, Some(2L)))
      .toDF("doc_id", "source", "n_chars")
    val got = perDoc(DocQueries.madDeviations(fixture))
    assert(got == perDoc(naiveDeviations(fixture)),
      s"per-doc deviations diverged on the fixture: $got")
    assert(got.map(_.head) == (1L to 14L).toList, "NULL-source rows kept")
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    assert(perDoc(DocQueries.madDeviations(docs)) ==
      perDoc(naiveDeviations(docs)),
      "per-doc deviations diverged on the sf0.001 documents")
  }

  test("the gate runs a bounded number of Spark jobs, none while it is built") {
    val sc = spark.sparkContext
    val docs = graft.sources.Tables(spark, "/root/testdata/sf0.001",
        "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    docs.count() // materialize the cached input before counting
    val group = s"mad-gate-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    def jobsSoFar(): Int = { org.apache.spark.ListenerBusDrain(sc); jobs.get }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "madOutlierGate job count")
    val (built, total) = try {
      val gate = DocQueries.madOutlierGate(docs, 3L)
      val built = jobsSoFar()
      gate.collect()
      (built, jobsSoFar())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    // Measured: no job while the gate is built, 5 in all (the value
    // count, the source exchange, the sort's sample and exchange, the
    // result). A lazy lineage cut on the median table makes it 7; one on
    // the MAD table runs 2 jobs while the gate is built.
    assert(built == 0, s"building the gate ran $built jobs")
    assert(total > 0 && total <= 6, s"madOutlierGate ran $total jobs (bound 6)")
  }
}
