package graft

import java.util.concurrent.{ConcurrentLinkedQueue, ExecutionException, FutureTask}
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's lineage cuts and forked plan construction, in one place.
  *
  *   - A [[cut]] materializes a frame and re-roots it on the result, so
  *     an iterative loop or a multiply-consumed funnel stage stops
  *     re-planning and re-running its lineage. Storage follows the
  *     deployment: when the SparkContext has a checkpoint dir (Spark's
  *     own `spark.checkpoint.dir`), the cut is a reliable `checkpoint`
  *     that survives executor loss; otherwise it is a `localCheckpoint`
  *     on the executors' block managers.
  *   - A [[fork]] builds independent plan branches concurrently. Under
  *     AQE a lazy cut runs its exchanges' jobs while the plan is built,
  *     so branches that each end in a cut overlap those jobs. */
object Cut {

  /** `df` with its lineage cut, as `name`. While the cut runs jobs (all
    * of them when `eager`, its exchanges' under AQE otherwise) the job
    * description is `name`; the caller's description is restored after.
    * Jobs the cut submits itself keep the Dataset method's call site
    * (`localCheckpoint at Cut.scala:N`), but AQE submits an exchange's
    * job from its own thread, so the name is what marks every cut job. */
  def cut(name: String, df: DataFrame, eager: Boolean = false): DataFrame = {
    val sc = df.sparkSession.sparkContext
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(name)
    try {
      if (sc.getCheckpointDir.isDefined) df.checkpoint(eager)
      else df.localCheckpoint(eager)
    } finally sc.setJobDescription(caller)
  }

  /** Unpersists the checkpoint RDDs behind `ds`'s cuts now, rather than
    * leaving them to the ContextCleaner. */
  private[graft] def release(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Branches of one [[fork]] scope. Each branch runs on a thread of its
    * own, started from the thread that forks it, so it inherits that
    * thread's Spark local properties (job group, description, tags), and
    * a branch that awaits another never waits for a free thread. */
  final class Fork private[Cut] {
    private[Cut] val threads = new ConcurrentLinkedQueue[Thread]
    private[Cut] val failed = new AtomicReference[Throwable]

    /** Starts `body` as branch `name`; the returned function awaits it.
      * Awaiting a failed branch throws, naming the branch. */
    def apply[T](name: String)(body: => T): () => T = {
      val task = new FutureTask[T](() =>
        try body catch { case t: Throwable =>
          failed.compareAndSet(null, failure(name, t)); throw t
        })
      val t = new Thread(task, s"graft-fork-$name")
      t.setDaemon(true)
      threads.add(t)
      t.start()
      () => try task.get() catch {
        case e: ExecutionException => throw failure(name, e.getCause)
      }
    }

    /** A branch that ends in [[Cut.cut]], both named `name`. */
    def cut(name: String)(df: => DataFrame): () => DataFrame =
      apply(name)(Cut.cut(name, df))
  }

  private def failure(branch: String, cause: Throwable) =
    new RuntimeException(s"fork branch $branch failed: $cause", cause)

  /** Runs `body` with a [[Fork]]. On exit, normal or not, the scope waits
    * until every started branch thread has ended, so none outlives the
    * call and none submits jobs after it. Then it rethrows the first
    * branch failure (named, with the branch's throwable as the cause),
    * or else `body`'s own.
    *
    * Waits are not time-bounded: with a thread per branch, only a hung
    * Spark job can block one, and Spark reports that itself, while a
    * fixed timeout would fail honest long jobs at scale. */
  def fork[T](body: Fork => T): T = {
    val f = new Fork
    val out = try Right(body(f)) catch { case t: Throwable => Left(t) }
    // A branch that forks enqueues its child before it ends.
    Iterator.continually(f.threads.poll()).takeWhile(_ != null)
      .foreach(_.join())
    Option(f.failed.get).foreach(t => throw t)
    out.toTry.get
  }
}
