package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

/** The session-artifact registry: one build per key under concurrent
  * callers, no entry left by a failed build, a release that frees every
  * RDD an entry held, and no entry carried into a new SparkContext. */
class ArtifactsSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private lazy val dataDir = ArtifactsSpec.smallCorpus(spark, "target/artifacts-spec")

  test("8 threads racing for one key run the build exactly once") {
    val input = spark.range(3).toDF()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          Artifacts(input, "race") { Thread.sleep(300); builds.incrementAndGet() }
        }
      }))
      start.countDown()
      val got = calls.map(_.get(60, TimeUnit.SECONDS))
      assert(builds.get == 1)
      assert(got.toSet == Set(1))
    } finally pool.shutdownNow()
  }

  test("a build that throws leaves no entry; the next call builds again") {
    val input = spark.range(4).toDF()
    intercept[IllegalStateException] {
      Artifacts[Int](input, "fails")(throw new IllegalStateException("boom"))
    }
    assert(!Artifacts.held.exists(_._1 == "fails"))
    val builds = new AtomicInteger
    assert(Artifacts(input, "fails") { builds.incrementAndGet(); 7 } == 7)
    assert(Artifacts(input, "fails") { builds.incrementAndGet(); 8 } == 7)
    assert(builds.get == 1)
  }

  test("clear releases every RDD a registry entry held after q134 and q79") {
    Artifacts.clear(spark)
    for (q <- Seq("q134_pagerank_suppliers", "q79_dedup_clusters"))
      SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
    // A cached frame holds its in-memory relation; a checkpointed frame
    // holds the checkpoint RDDs in its plan.
    def rdds(v: Any): Seq[Int] = v match {
      case (a, b) => rdds(a) ++ rdds(b)
      case ds: Dataset[_] =>
        ds.queryExecution.withCachedData match {
          case r: InMemoryRelation => Seq(r.cacheBuilder.cachedColumnBuffers.id)
          case _ => ds.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }
        }
      case _ => Nil
    }
    val held = Artifacts.held.map { case (kind, v) => kind -> rdds(v) }.toMap
    assert(held("co-supply").size == 2, "edge and node checkpoints")
    assert(held("shingled").size == 1, "the shingle table's cached relation")
    val ids = held.values.flatten.toSet
    val sc = spark.sparkContext
    assert(ids.subsetOf(sc.getPersistentRDDs.keySet))
    Artifacts.clear(spark)
    assert(Artifacts.held.isEmpty)
    val left = ids.intersect(sc.getPersistentRDDs.keySet)
    assert(left.isEmpty, s"still persisted after clear: $left")
  }

  test("a new SparkContext does not see the previous context's entries") {
    val builds = new AtomicInteger
    def touch(): Int = Artifacts(spark.range(5).toDF(), "per-context")(builds.incrementAndGet())
    touch(); touch()
    assert(builds.get == 1)
    val old = spark.sparkContext.applicationId
    SparkTestSession.stop()
    assert(spark.sparkContext.applicationId != old)
    assert(touch() == 2)
    assert(Artifacts.held.map(_._1) == Seq("per-context"))
  }
}

object ArtifactsSpec {
  /** Writes a small corpus of the two tables q134 and q79 read under
    * `dir`: suppliers sharing orders, and documents with planted
    * near-duplicates. Returns `dir`. */
  def smallCorpus(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    (1L to 40L).flatMap(o => Seq(o -> (o % 7), o -> ((o * 3) % 11)))
      .toDF("l_orderkey", "l_suppkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val words = (1 to 30).map(i => s"w$i")
    (1L to 60L).map { id =>
      val text = words.drop((id % 20).toInt).take(12).mkString(" ")
      (id, text, "en", s"src${id % 3}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
}
