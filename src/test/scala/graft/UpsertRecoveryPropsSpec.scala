package graft

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import graft.streaming.EventStreams

/** Crash-recovery properties for the versioned-parquet upsert store: a
  * writer can die BETWEEN versioned writes (part files present, no
  * `_SUCCESS`, possibly garbage bytes), and the `_SUCCESS`-gated resume
  * read must (a) never see the torn version, (b) never throw on its
  * corrupt files, and (c) hand a resumed merge the newest committed
  * snapshot so last-committed-wins holds end-to-end.
  */
object UpsertRecoveryPropsSpec extends Properties("EventStreams.upsertStore") {
  private lazy val spark = SparkTestSession.spark

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10)

  private type Rows = List[(String, String, Long)]

  private val rowsGen: Gen[Rows] = for {
    n <- Gen.choose(1, 6)
    rows <- Gen.listOfN(n, for {
      k <- Gen.oneOf("a", "b", "c")
      m <- Gen.choose(0, 5)
      c <- Gen.choose(1L, 9L)
    } yield (k, f"2024-01-01 10:0$m%d:00", c))
  } yield rows.groupBy(r => (r._1, r._2)).values.map(_.head).toList

  /** A store history: per version, its content and whether the write
    * committed (_SUCCESS landed) or tore (killed mid-write). */
  private val historyGen: Gen[List[(Rows, Boolean)]] = for {
    n <- Gen.choose(0, 4)
    h <- Gen.listOfN(n, Gen.zip(rowsGen, Gen.oneOf(true, false)))
  } yield h

  private def df(rs: Rows) = {
    import spark.implicits._
    rs.toDF("event_type", "win_start", "distinct_users")
  }

  private def collect(d: org.apache.spark.sql.DataFrame): Set[(String, String, Long)] = {
    import spark.implicits._
    d.as[(String, String, Long)].collect().toSet
  }

  /** Materialize a history under a fresh store dir; tear the uncommitted
    * versions the way a kill does: `_SUCCESS` never lands, and what part
    * files exist may be half-written garbage. */
  private def writeStore(history: List[(Rows, Boolean)]): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(java.nio.file.Paths.get("target"), "upsert-recovery-")
      .toString
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    history.zipWithIndex.foreach { case ((rows, committed), v) =>
      val vdir = s"$dir/v$v"
      df(rows).coalesce(1).write.mode("overwrite").parquet(vdir)
      if (!committed) {
        fs.delete(new org.apache.hadoop.fs.Path(vdir, "_SUCCESS"), false)
        val torn = fs.create(new org.apache.hadoop.fs.Path(vdir, "part-torn.parquet"))
        torn.write(Array[Byte](0x50, 0x41, 0x52, 0x7f, 0x00, 0x03)) // not parquet
        torn.close()
      }
    }
    dir
  }

  /** `check` on a store materialized from `history`; the store is deleted
    * once the check has run. */
  private def withStore(history: List[(Rows, Boolean)])(
      check: String => Boolean): Boolean = {
    val dir = writeStore(history)
    try check(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  property("resume read = newest committed version; torn versions invisible") =
    forAll(historyGen) { history =>
      withStore(history) { dir =>
        val expected = history.zipWithIndex.collect {
          case ((rows, true), _) => rows
        }.lastOption.map(_.toSet)
        val got = EventStreams.readUpsertStore(spark, dir).map(collect)
        got == expected
      }
    }

  property("kill between writes, resume, merge: last-committed-wins end-to-end") =
    forAll(Gen.zip(historyGen, rowsGen)) { case (history, batch) =>
      withStore(history) { dir =>
        // the resumed micro-batch: merge onto whatever the store recovers to
        val base = EventStreams.readUpsertStore(spark, dir)
          .getOrElse(df(batch).limit(0))
        val resumed = collect(EventStreams.upsertMerge(base, df(batch), "event_type"))
        val committed = history.collect { case (rows, true) => rows }
          .lastOption.getOrElse(Nil)
        val expected = collect(
          EventStreams.upsertMerge(df(committed), df(batch), "event_type"))
        resumed == expected
      }
    }
}
