package graft

import org.apache.spark.sql.SparkSession

/** The local session every main and the test suite run in: `local[cores]`
  * with shuffle partitions equal to cores (tiny shuffles don't fan out
  * into 200 empty tasks), UTC session time, no UI, and parquet
  * nanosecond timestamps read as longs (see `Tables.read`). */
object LocalSession {
  def apply(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
