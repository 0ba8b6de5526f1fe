package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import scala.collection.mutable.ArrayBuffer

/** One Spark job as the listener bus reported it. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String,
                   val cut: Boolean) {
  var endMs: Long = startMs
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  def wallS: Double = (endMs - startMs) / 1e3
}

/** One micro-batch of a streaming query, from its progress event. */
final class BatchRec(val runId: String, val inputRows: Long,
                     val durationMs: Map[String, Long],
                     val stateRows: Long, val stateBytes: Long) {
  def phaseS(name: String): Double = durationMs.getOrElse(name, 0L) / 1e3
}

/** Position in the recorder's job and batch logs. Two marks bracket
  * everything the bus delivered between them. */
final case class Mark(jobs: Int, batches: Int)

/** Collects jobs, stages, tasks and streaming progress from the
  * SparkContext's listener bus. Streaming topologies run in child sessions,
  * so their progress arrives here through `onOtherEvent`, not through a
  * session's StreamingQueryManager. The bus thread writes and the harness
  * reads only after [[drain]], so every read sees a closed log. */
final class Recorder extends SparkListener {
  private val jobs = ArrayBuffer.empty[JobRec]
  private val jobById = scala.collection.mutable.HashMap.empty[Int, JobRec]
  private val stageJob = scala.collection.mutable.HashMap.empty[Int, JobRec]
  private val batches = ArrayBuffer.empty[BatchRec]

  private def isCut(site: String): Boolean =
    site.startsWith("localCheckpoint") || site.startsWith("checkpoint")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
    val job = new JobRec(e.jobId, e.time, site,
      isCut(site) || e.stageInfos.exists(s => isCut(s.name)))
    jobs += job
    jobById(e.jobId) = job
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { j =>
      j.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.diskBytesSpilled
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent => synchronized {
      val pr = p.progress
      val d = pr.durationMs
      val phases = d.keySet.toArray.map(k => k.toString -> d.get(k).longValue).toMap
      batches += new BatchRec(pr.runId.toString, pr.numInputRows, phases,
        pr.stateOperators.map(_.numRowsTotal).sum,
        pr.stateOperators.map(_.memoryUsedBytes).sum)
    }
    case _ =>
  }

  /** Job and stage ids restart in every SparkContext: forget the old ones. */
  def newContext(): Unit = synchronized {
    jobById.clear()
    stageJob.clear()
  }

  def mark(sc: SparkContext): Mark = {
    drain(sc)
    synchronized(Mark(jobs.size, batches.size))
  }

  def jobsBetween(a: Mark, b: Mark): Seq[JobRec] =
    synchronized(jobs.slice(a.jobs, b.jobs).toList)

  def batchesBetween(a: Mark, b: Mark): Seq[BatchRec] =
    synchronized(batches.slice(a.batches, b.batches).toList)

  private def drain(sc: SparkContext): Unit =
    org.apache.spark.BusDrain(sc)
}

/** Minimal JSON writer for the harness's records. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
}
