package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** The input memo: only the repartitioned tables are persisted, the
  * file-order ones stay parquet scans resolved once per session, and a
  * stopped context's entries are dropped. */
class TablesSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  /** The jobs `body` starts, counted under a job group of its own. */
  private def jobsOf(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val group = s"tables-spec-${System.nanoTime}"
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group) n.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "tables-spec")
    try { body; ListenerBusDrain(sc) }
    finally { sc.clearJobGroup(); sc.removeSparkListener(listener) }
    n.get
  }

  test("only documents and embeddings are persisted, each over at least 2 partitions") {
    SparkTestSession.stop() // a fresh context: no other suite's persisted frames
    val s = spark
    Tables.all.foreach(t => Tables(s, dir, t).count())
    val spread = Seq("documents", "embeddings").map { t =>
      Tables(s, dir, t).queryExecution.withCachedData.collectFirst {
        case r: InMemoryRelation => r.cacheBuilder.cachedColumnBuffers.id
      }.getOrElse(fail(s"$t is not read from a cached relation"))
    }
    val stored = s.sparkContext.getRDDStorageInfo.toSeq
    assert(stored.map(_.id).sorted == spread.sorted, stored.map(_.name))
    assert(stored.forall(_.numPartitions >= 2), stored.map(_.numPartitions))
  }

  test("lineitem is read from parquet, not from an in-memory copy") {
    val plan = Tables(spark, dir, "lineitem").queryExecution.executedPlan.toString
    assert(plan.contains("FileScan parquet"), plan)
    assert(!plan.contains("InMemoryTableScan"), plan)
  }

  test("a second read of a memoized table starts no job") {
    Tables.release(spark, dir)
    val first = jobsOf(spark)(Tables(spark, dir, "lineitem"))
    val second = jobsOf(spark)(Tables(spark, dir, "lineitem"))
    assert(first >= 1, "the first read resolves the parquet schema in a job")
    assert(second == 0)
  }

  test("a new context drops the entries of the stopped one") {
    Tables(spark, dir, "events")
    val old = spark.sparkContext.applicationId
    assert(Tables.keys.exists(_._1 == old))
    SparkTestSession.stop()
    Tables(spark, dir, "events")
    assert(spark.sparkContext.applicationId != old)
    assert(!Tables.keys.exists(_._1 == old), Tables.keys)
  }
}
