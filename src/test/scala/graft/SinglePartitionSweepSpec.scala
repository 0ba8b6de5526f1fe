package graft

import org.scalatest.funsuite.AnyFunSuite

/** The q90-class bug detector, run over EVERY audited batch plan: no
  * query may plan an `Exchange SinglePartition` whose input carries
  * explode (Generate) output — explode output is corpus-proportional,
  * so such a funnel pushes a data-sized table through ONE task no
  * matter how many executors the cluster has. Round 12's q90 shipped
  * exactly this (three stacked windows above `Exchange SinglePartition`
  * on the vocab×sources table) and was caught by a human reading
  * PLANS.md; this spec makes the dump grep itself.
  *
  * Statically-benign funnels are filtered, not allowlisted: a
  * SinglePartition exchange feeding a GLOBAL aggregate's final step
  * carries ≤ 1 row per input partition (the partial has no grouping
  * keys) — that is how every scalar total (q88's n_tokens, q78's
  * vocab size, the 1-row maxima broadcasts) plans, and it is bounded
  * by parallelism, not data.
  *
  * Adjudicated exceptions (query → why the funneled table is bounded)
  * are named here so a NEW funnel in any other query fails CI:
  *   - q57_boilerplate_ngrams: the Misra–Gries sketch fold — the
  *     partial ObjectHashAggregate emits ≤ k counter entries per
  *     partition, so the single-partition merge sees ≤ k·partitions
  *     rows (the sketch's contract, FreqSketchSpec). It groups by no
  *     keys, so it is already filtered as a global-agg partial.
  * (After the round-13 q90 fix, the sweep finds NO adjudication-needed
  * funnels — the map below stays empty and exists as the documented
  * place the next one must be argued, not silently added.)
  */
class SinglePartitionSweepSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  /** query name → number of adjudicated explode-over-SinglePartition
    * funnels allowed (with the justification in the scaladoc above). */
  private val adjudicated: Map[String, Int] = Map.empty

  test("no audited query funnels explode-derived rows through one partition") {
    // Canonical multi-partition shapes: a materialized tiny-fixture
    // cache is one partition, which lets EnsureRequirements elide the
    // very exchanges this sweep audits.
    Artifacts.clear(spark)
    val bad = PlansDump.audited.flatMap { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val funnels = PlanAudit.suspectFunnels(df)
      val allowed = adjudicated.getOrElse(name, 0)
      if (funnels.size > allowed)
        Some(s"$name: ${funnels.size} funnel(s), $allowed adjudicated:\n" +
          funnels.mkString("\n"))
      else None
    }
    assert(bad.isEmpty, bad.mkString("\n\n"))
  }

  test("negative control: the round-12 q90 shape IS flagged") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // The exact r12 hazard: unpartitioned window total over the
    // (source, token) aggregate of an exploded corpus.
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val r12Shape = docs
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c_sw"))
      .withColumn("n_total", sum("c_sw").over(Window.partitionBy()))
    assert(PlanAudit.suspectFunnels(r12Shape).nonEmpty,
      "the sweep must flag an unpartitioned window over explode-derived rows")
  }
}
