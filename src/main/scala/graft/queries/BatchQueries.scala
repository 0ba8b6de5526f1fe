package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.core._
import graft.sources.Tables

/** Batch analytics parity queries (SURVEY.md §2.3–§2.8) re-expressed over the
  * TPC-H-ish test star schema. Flight-domain → testdata mapping per query is
  * documented in FIXTURES.md. Conventions (driver oracle contract):
  *   - output columns: string / long / double only; doubles rounded;
  *   - every query ends in a total order on OUTPUT columns with a unique
  *     tie-break key, mirrored exactly in the oracle SQL;
  *   - dims joined with explicit broadcast(); no collect() on data paths.
  */
object BatchQueries {

  /** A1+J1 airline-stats shape (batch_process.py:14-27, shared.py:28-32):
    * groupBy airline → avg(abs err), count, conditional count, OTP%, then
    * broadcast-left-join dim for names. Fact=lineitem, airline=supplier. */
  def q01SupplierStats(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val sup = Tables(spark, dir, "supplier").select("s_suppkey", "s_name")
    li.groupBy(col("l_suppkey"))
      .agg(
        round(avg(abs(col("l_extendedprice") - col("l_quantity") * 1000.0)), 4)
          .as("avg_err"),
        count(lit(1)).as("flight_count"),
        countIf(col("l_discount") > 0.05).as("delayed_count"))
      .filter(col("flight_count") > 10)
      .withColumn("otp", round(otpPercent(col("delayed_count"), col("flight_count")), 4))
      .drop("delayed_count")
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"), "left")
      .drop("s_suppkey")
      .select("l_suppkey", "s_name", "avg_err", "flight_count", "otp")
      .orderBy(desc("otp"), asc("l_suppkey"))
  }

  /** A2+J2 airport-departure-delays shape (batch_process.py:37-44): avg +
    * count per airport, threshold filter, dim enrich. Airport=nation via
    * customer. */
  def q02NationOrderStats(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val n = Tables(spark, dir, "nation").select("n_nationkey", "n_name")
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"), "left")
      .groupBy(col("n_name"))
      .agg(
        round(avg(col("o_totalprice")), 4).as("avg_total_price"),
        count(lit(1)).as("order_count"))
      .filter(col("order_count") > 10)
      .orderBy(desc("avg_total_price"), asc("n_name"))
  }

  /** A3+W1+O3 busiest-airports shape (batch_process.py:57-90): count per key,
    * global min/max/total → busyness score + share-of-total, top-10. The
    * reference takes the global stats with a window over an empty
    * partitionBy, which moves the per-supplier table into one task — and
    * suppliers grow with the data (10, 100, 1,000 at sf0.001, sf0.01,
    * sf0.1). Here a one-row min/max/sum aggregate is broadcast-cross-joined
    * instead (q11's idiom), so the per-supplier rows stay in their
    * partitions. */
  def q03BusiestSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val counts = li.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("flight_count"))
    val stats = counts.agg(min("flight_count").as("_min"),
      max("flight_count").as("_max"), sum("flight_count").as("_total"))
    counts.crossJoin(broadcast(stats))
      .withColumn("busyness_pct",
        round(minMaxScore(col("flight_count"), col("_min"), col("_max")), 4))
      .withColumn("share_pct",
        round(pctOf(col("flight_count"), col("_total")), 4))
      .drop("_min", "_max", "_total")
      .orderBy(desc("flight_count"), asc("l_suppkey"))
      .limit(10)
  }

  /** A4 busiest-weeks shape (batch_process.py:99-111): groupBy calendar
    * (month, ISO week) with conditional delayed-%. */
  def q04BusiestWeeks(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    li.groupBy(
        month(col("l_shipdate")).cast("long").as("ship_month"),
        weekofyear(col("l_shipdate")).cast("long").as("ship_week"))
      .agg(
        count(lit(1)).as("flight_count"),
        countIf(col("l_discount") > 0.05).as("delayed_count"))
      .withColumn("delayed_pct",
        round(pctOf(col("delayed_count"), col("flight_count")), 4))
      .filter(col("flight_count") > 10)
      .orderBy(desc("flight_count"), asc("ship_month"), asc("ship_week"))
  }

  /** A5+O6 delay-reasons shape (batch_process.py:119-135): one global agg of
    * 5 avgs, then unpivot (stack) to (metric, value) rows. */
  def q05GlobalAvgUnpivot(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val agged = li.agg(
      round(avg("l_quantity"), 4).as("avg_quantity"),
      round(avg("l_extendedprice"), 4).as("avg_price"),
      round(avg("l_discount"), 6).as("avg_discount"),
      round(avg("l_tax"), 6).as("avg_tax"),
      round(avg("l_linenumber"), 4).as("avg_linenumber"))
    unpivot(agged,
      Seq("quantity" -> "avg_quantity", "price" -> "avg_price",
        "discount" -> "avg_discount", "tax" -> "avg_tax",
        "linenumber" -> "avg_linenumber"),
      keyName = "metric", valueName = "avg_value")
      .orderBy(asc("metric"))
  }

  /** A6 cancellations-by-day-of-week shape (batch_process.py:143-152):
    * conditional count → percent, null-guarded. dow normalized to 1=Sunday
    * (Spark convention; oracle shifts DuckDB's 0-based dow). */
  def q06CancellationsDow(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    o.groupBy(dayofweek(col("o_orderdate")).cast("long").as("dow"))
      .agg(
        count(lit(1)).as("order_count"),
        countIf(col("o_orderstatus") === "F").as("cancelled_count"))
      .filter(col("order_count") > 10)
      .withColumn("cancelled_pct",
        round(pctOf(col("cancelled_count"), col("order_count")), 4))
      .orderBy(desc("cancelled_pct"), asc("dow"))
  }
}
