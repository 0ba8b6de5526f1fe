package graft

import java.lang.ref.WeakReference
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.StreamQueries
import graft.streaming.EventStreams

/** A streaming replay runs in a child session; its result must not keep
  * that session (and the sink and listener buses it owns) reachable. */
class StreamSessionLeakSpec extends AnyFunSuite {
  private def spark = SparkTestSession.spark

  private val dir = "/root/testdata/sf0.001"

  /** q32's replay, built from the same parts, run to a shuffled write in
    * the caller's session; returns a weak handle on its child session. */
  private def replay(): (WeakReference[SparkSession], Long) = {
    val ss = EventStreams.streamSession(spark)
    val events = EventStreams.fileReplaySource(ss, dir)
    val counts = EventStreams.windowedDistinct(
      EventStreams.observedLateness(events), col("event_type"), "event_type")
    val out = EventStreams.runToMemory(spark, counts)
      .orderBy("win_start", "event_type")
    out.write.format("noop").mode("overwrite").save()
    (new WeakReference(ss), out.count())
  }

  test("q32 returns a frame of the caller's session") {
    val df = StreamQueries.q32StreamWindowedDistinct(spark, dir)
    assert(df.sparkSession eq spark)
    assert(df.count() > 0)
  }

  test("the replay's child session is collectable once its result is used") {
    val (child, rows) = replay()
    assert(rows > 0)
    var rounds = 0
    while (child.get != null && rounds < 20) {
      System.gc()
      Thread.sleep(50)
      rounds += 1
    }
    assert(child.get == null, s"child session still reachable after $rounds GCs")
  }
}
