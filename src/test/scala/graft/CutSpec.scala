package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.Cut.{cut, fork}
import graft.queries.DocQueries

/** The lineage-cut and fork helpers: cuts follow Spark's checkpoint dir
  * without changing a result, a cut's jobs carry its name, a failing
  * branch fails its fork scope cleanly, and no other file in `src/main`
  * takes a cut or builds a thread pool. */
class CutSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private lazy val dataDir = ArtifactsSpec.smallCorpus(spark, "target/cut-spec")

  private def clusters(s: SparkSession): Set[(Long, Long, Long, Boolean)] = {
    import s.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    DocQueries.dedupClusters(pairs)
      .as[(Long, Long, Long, Boolean)].collect().toSet
  }

  private def q171(s: SparkSession): Seq[String] =
    SparkEntry.queries("q171_incr_curation_funnel")(s, dataDir)
      .collect().map(_.toString).toSeq

  /** `body` in a fresh context whose checkpoint dir is `dir`, set through
    * Spark's `spark.checkpoint.dir`; the context is stopped after, so the
    * suites that follow get a local-mode one again. */
  private def withCheckpointDir[T](dir: Path)(body: SparkSession => T): T = {
    SparkTestSession.stop()
    System.setProperty("spark.checkpoint.dir", dir.toString)
    val s = try spark finally System.clearProperty("spark.checkpoint.dir")
    try body(s) finally SparkTestSession.stop(s)
  }

  test("reliable-checkpoint mode returns the same results as local") {
    val local = (clusters(spark), q171(spark))
    val dir = Files.createTempDirectory(Paths.get("target"), "cut-ckpt-")
    try {
      val reliable = withCheckpointDir(dir) { s =>
        assert(s.sparkContext.getCheckpointDir.isDefined)
        (clusters(s), q171(s))
      }
      assert(reliable == local)
      // reliable mode actually wrote checkpoint state to the directory
      val wrote = Files.walk(dir).filter(Files.isRegularFile(_)).count()
      assert(wrote > 0, "reliable mode wrote no checkpoint files")
    } finally FileUtils.deleteDirectory(dir.toFile)
    assert(spark.sparkContext.getCheckpointDir.isEmpty)
  }

  test("every job a cut runs carries the cut's name as its description") {
    val s = spark
    val sc = s.sparkContext
    val group = s"cut-spec-${System.nanoTime}"
    val jobs = new ConcurrentLinkedQueue[(String, Seq[String])]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null &&
          e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.add((e.properties.getProperty("spark.job.description"),
            e.stageInfos.map(_.name)))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "caller")
    try {
      val counts = s.range(0, 1000, 1, 4).groupBy(col("id") % 7).count()
      // lazy: under AQE the exchange's job runs while the cut is taken
      val lazyCut = cut("spec.lazy", counts)
      cut("spec.eager", lazyCut.filter(col("count") > 0), eager = true)
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      lazyCut.collect()
      ListenerBusDrain(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val seen = jobs.asScala.toSeq
    val cutJobs = seen.filter(_._1 != "caller")
    assert(cutJobs.map(_._1).toSet == Set("spec.lazy", "spec.eager"), seen)
    // A job's result stage is named by its call site, which is how
    // listeners tell a cut's own jobs apart. AQE submits an exchange's
    // map stage from its own thread, so only the name marks those.
    val eagerJobs = cutJobs.filter(_._1 == "spec.eager")
    assert(eagerJobs.forall(_._2.exists(_.startsWith("localCheckpoint"))), seen)
    // the caller's own job after the cuts runs under its description
    assert(seen.last._1 == "caller", seen)
  }

  test("a throwing branch fails the scope by name after every branch settles") {
    val boom = new IllegalStateException("boom")
    val threads = new ConcurrentLinkedQueue[Thread]
    val siblingSettled = new AtomicBoolean
    val slowSettled = new AtomicBoolean
    val e = intercept[RuntimeException] {
      fork { f =>
        val failing = f("spec.failing") {
          threads.add(Thread.currentThread)
          Thread.sleep(100)
          throw boom
        }
        val sibling = f("spec.sibling") {
          threads.add(Thread.currentThread)
          try failing() finally siblingSettled.set(true)
        }
        f("spec.slow") {
          threads.add(Thread.currentThread)
          Thread.sleep(1000)
          slowSettled.set(true)
        }
        sibling()
      }
    }
    val seen = threads.asScala.toSeq
    val alive = seen.filter(_.isAlive).map(_.getName)
    assert(alive.isEmpty, s"fork threads alive after the scope: $alive")
    assert(seen.size == 3 && seen.forall(_.getName.startsWith("graft-fork-")))
    assert(siblingSettled.get && slowSettled.get)
    assert(e.getMessage.contains("spec.failing"), e.getMessage)
    assert(e.getCause eq boom)
  }

  test("a branch can fork and await a branch of its own") {
    implicit val ec: ExecutionContext = ExecutionContext.global
    val got = Future {
      fork { f =>
        val outer = f("spec.outer") {
          val inner = f("spec.inner")(21)
          inner() * 2
        }
        outer()
      }
    }
    assert(Await.result(got, 60.seconds) == 42)
  }

  test("only Cut.scala takes a lineage cut or builds a thread pool in src/main") {
    val owned = Seq(".localCheckpoint(", ".checkpoint(", "newFixedThreadPool",
      "Await.result")
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "Cut.scala").toSeq
    val hits = for {
      file <- files
      (line, i) <- Files.readAllLines(file).asScala.zipWithIndex
      if owned.exists(line.contains)
    } yield s"$file:${i + 1}: ${line.trim}"
    assert(files.nonEmpty)
    assert(hits.isEmpty,
      s"${hits.size} lines outside Cut.scala:\n${hits.mkString("\n")}")
  }
}
