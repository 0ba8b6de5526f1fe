package perfbench

import graft.SparkEntry
import graft.sources.Tables
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** Drives one workload through the public query registry and records what
  * `run.py` turns into metrics.
  *
  * A pass calls `SparkEntry.queries(name)(spark, dir)` for every query of
  * the workload, in one seeded order, and writes each result to the `noop`
  * format. A run is: set-ups, untimed warm-up passes, then a fixed number
  * of timed passes, the same on every run whatever the host's speed. The first
  * warm-up pass is the output pass: it writes every result as parquet for
  * the check instead of to `noop`, and records the streaming input rows of
  * each query.
  *
  * `cold=true` runs every pass in a freshly built SparkContext, so every
  * session memo is missed and rebuilt; with `trace=1` each traced cold pass
  * is followed by a warm pass in the same context, which prices the
  * artifact builds. With `trace=1` half the timed passes are traced: a
  * [[Recorder]] is attached and the bus is drained at span edges. The
  * untraced passes still give `pass_s`, and their difference to the traced
  * ones is the tracing overhead.
  *
  * Arguments are `key=value`: data, out, queries and tables (comma lists),
  * cold, seed, trace, setups, warmup, passes, cores. Writes
  * `result.json`, and with tracing `spans.json`, into `out`.
  */
object Harness {
  private def secs(t0: Long): Double = (System.nanoTime - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val data = a("data")
    val out = a("out")
    val cold = a("cold").toBoolean
    val trace = a("trace") == "1"
    val cores = a("cores").toInt
    val names = a("queries").split(",").toSeq
    val hot = a("tables").split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"not in SparkEntry.queries: ${unknown.mkString(", ")}")
    val order = new scala.util.Random(a("seed").toLong).shuffle(names)
    val registry = SparkEntry.queries
    Files.createDirectories(Paths.get(out))

    val rec = new Recorder
    var spark: SparkSession = null
    val setups = ArrayBuffer.empty[Double]
    val warms = ArrayBuffer.empty[Double]
    var inputMb = 0.0
    var inputPartitions = 0

    def storageMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

    // A set-up builds a fresh session and caches the hot inputs. The first
    // one counts from JVM start.
    def setUp(): Unit = {
      val t0 = System.nanoTime
      val sinceJvm = if (spark == null)
        (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
      else 0.0
      if (spark != null) spark.stop()
      rec.newContext()
      spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.warehouse.dir", "spark-warehouse")
        .config("spark.local.dir", "spark-local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val w0 = System.nanoTime
      hot.foreach(t => Tables(spark, data, t).count())
      warms += secs(w0)
      setups += sinceJvm + secs(t0)
      inputMb = storageMb()
      inputPartitions = spark.sparkContext.getRDDStorageInfo.map(_.numPartitions).sum
    }

    val failed = LinkedHashMap.empty[String, String]
    def attempt[T](name: String)(body: => T): Option[T] =
      try Some(body) catch {
        case e: Throwable =>
          if (!failed.contains(name)) failed(name) = s"${e.getClass.getName}: ${e.getMessage}"
          System.err.println(s"[perfbench] $name failed: $e")
          None
      }

    val passes = ArrayBuffer.empty[Map[String, Any]]
    val spans = ArrayBuffer.empty[Map[String, Any]]

    def jobSpan(j: JobRec): Map[String, Any] = Map(
      "job" -> j.id, "call_site" -> j.callSite, "cut" -> j.cut,
      "start_ms" -> j.startMs, "end_ms" -> j.endMs, "stages" -> j.stages,
      "tasks" -> j.tasks, "task_ms" -> j.runMs, "cpu_ns" -> j.cpuNs,
      "shuffle_write_bytes" -> j.shuffleWrite, "shuffle_read_bytes" -> j.shuffleRead,
      "spill_bytes" -> j.spill)

    val streamRows = LinkedHashMap.empty[String, Long]

    def pass(kind: String, traced: Boolean, output: Boolean = false): Double = {
      val sc = spark.sparkContext
      if (traced || output) sc.addSparkListener(rec)
      val perQuery = LinkedHashMap.empty[String, Any]
      val querySpans = ArrayBuffer.empty[Map[String, Any]]
      var buildS, execS = 0.0
      var buildJobs, execJobs = 0
      var streamBuildS = 0.0
      val p0 = System.nanoTime
      val pm0 = if (traced) rec.mark(sc) else null
      for (name <- order) {
        val m0 = if (traced || output) rec.mark(sc) else null
        val q0 = System.nanoTime
        attempt(name)(registry(name)(spark, data)).foreach { df =>
          val b = secs(q0)
          val m1 = if (traced || output) rec.mark(sc) else null
          if (output) {
            val bs = rec.batchesBetween(m0, m1)
            if (bs.nonEmpty) streamRows(name) = bs.map(_.inputRows).sum
          }
          val w0 = System.nanoTime
          attempt(name) {
            if (output) df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$name")
            else df.write.format("noop").mode("overwrite").save()
          }
          val w = secs(w0)
          perQuery(name) = Map("build_s" -> b, "exec_s" -> w)
          if (traced) {
            val m2 = rec.mark(sc)
            val bj = rec.jobsBetween(m0, m1)
            val wj = rec.jobsBetween(m1, m2)
            buildS += b; execS += w; buildJobs += bj.size; execJobs += wj.size
            if (rec.batchesBetween(m0, m1).nonEmpty) streamBuildS += b
            querySpans += Map("query" -> name, "build" -> Map(
              "seconds" -> b, "jobs" -> bj.map(jobSpan)), "write" -> Map(
              "seconds" -> w, "jobs" -> wj.map(jobSpan)))
          }
        }
      }
      val wall = secs(p0)
      val record = LinkedHashMap[String, Any]("kind" -> kind, "traced" -> traced,
        "wall_s" -> wall, "cached_mb" -> storageMb(), "queries" -> perQuery)
      if (output) sc.removeSparkListener(rec)
      if (traced) {
        val pm1 = rec.mark(sc)
        sc.removeSparkListener(rec)
        val jobs = rec.jobsBetween(pm0, pm1)
        val bs = rec.batchesBetween(pm0, pm1)
        val cpuS = jobs.map(_.cpuNs).sum / 1e9
        val triggerS = bs.map(_.phaseS("triggerExecution")).sum
        val inputRows = bs.map(_.inputRows).sum
        // State size is a snapshot per batch: take each query's last batch.
        val lastBatch = bs.groupBy(_.runId).values.map(_.last)
        record("layers") = Map(
          "queries.build_s" -> buildS, "queries.build_jobs" -> buildJobs,
          "queries.exec_s" -> execS, "queries.exec_jobs" -> execJobs,
          "spark.jobs" -> jobs.size, "spark.stages" -> jobs.map(_.stages).sum,
          "spark.tasks" -> jobs.map(_.tasks).sum,
          "spark.task_s" -> jobs.map(_.runMs).sum / 1e3, "spark.cpu_s" -> cpuS,
          "spark.core_util" -> cpuS / (wall * cores),
          "spark.job_overlap" -> jobs.map(_.wallS).sum / wall,
          "spark.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / 1e6,
          "spark.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / 1e6,
          "spark.spill_mb" -> jobs.map(_.spill).sum / 1e6,
          "spark.cut_jobs" -> jobs.count(_.cut),
          "spark.cut_s" -> jobs.filter(_.cut).map(_.wallS).sum,
          "streaming.batches" -> bs.size, "streaming.input_rows" -> inputRows,
          "streaming.trigger_s" -> triggerS,
          "streaming.add_batch_s" -> bs.map(_.phaseS("addBatch")).sum,
          "streaming.planning_s" -> bs.map(_.phaseS("queryPlanning")).sum,
          "streaming.wal_s" -> bs.map(_.phaseS("walCommit")).sum,
          "streaming.commit_s" -> bs.map(_.phaseS("commitOffsets")).sum,
          "streaming.offsets_s" -> bs.map(_.phaseS("latestOffset")).sum,
          "streaming.outside_s" -> (streamBuildS - triggerS),
          "streaming.rows_per_s" -> (if (triggerS > 0) inputRows / triggerS else 0.0),
          "streaming.state_rows" -> lastBatch.map(_.stateRows).sum,
          "streaming.state_mb" -> lastBatch.map(_.stateBytes).sum / 1e6)
        spans += Map("pass" -> passes.size, "kind" -> kind, "seconds" -> wall,
          "queries" -> querySpans)
      }
      passes += record.toMap
      wall
    }

    setUp()
    if (!cold) (2 to a("setups").toInt).foreach(_ => setUp())
    // A cold pass runs in a context no pass has used yet.
    var fresh = true
    def coldPass(kind: String, traced: Boolean, output: Boolean = false): Unit = {
      if (cold && !fresh) setUp()
      fresh = false
      pass(kind, traced, output)
    }
    (1 to a("warmup").toInt).foreach(i => coldPass("warmup", traced = false, output = i == 1))
    // Untraced and traced passes alternate in pairs (u t t u ...), so
    // passes still speeding up as the JIT warms bias neither side.
    for (i <- 0 until (if (trace) a("passes").toInt max 4 else a("passes").toInt)) {
      val traced = trace && (i % 4 == 1 || i % 4 == 2)
      coldPass("timed", traced)
      if (cold && traced) pass("warm", traced = true)
    }

    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), Json(oracle))

    val result = Map(
      "order" -> order, "cores" -> cores, "setups_s" -> setups.toSeq,
      "sources_warm_s" -> warms.toSeq, "input_mb" -> inputMb,
      "input_partitions" -> inputPartitions, "passes" -> passes.toSeq,
      "failed" -> failed, "stream_input_rows" -> streamRows)
    if (trace) Files.writeString(Paths.get(s"$out/spans.json"), Json(spans.toSeq))
    Files.writeString(Paths.get(s"$out/result.json"), Json(result))
    spark.stop()
  }
}
