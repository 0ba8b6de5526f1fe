package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.state.StateStore

/** One shared local SparkSession for every suite in the forked test JVM.
  * local[4] keeps test latency low. A suite that stops the context (the
  * registry's fresh-context check in ArtifactsSpec) gets a new one on the
  * next call, so the suites after it still run.
  */
object SparkTestSession {
  private var current: SparkSession = _

  def spark: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = LocalSession(4)
    current
  }

  /** Stops `s`'s context, and first the JVM's streaming state stores:
    * their maintenance task otherwise outlives the context and logs an
    * `RpcEndpointNotFoundException` for its StateStoreCoordinator on
    * every round. */
  def stop(s: SparkSession = spark): Unit = {
    StateStore.stop()
    s.stop()
  }
}
