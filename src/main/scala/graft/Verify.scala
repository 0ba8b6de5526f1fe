package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. An optional
  * third arg (comma-separated query names) restricts the dump — used for
  * targeted sweeps such as the ×10 amplified-corpus oracle check; the
  * driver's two-arg call is unchanged. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Option.empty[Set[String]])
      case Array(s, o, f) => (s, o, Some(f.split(",").map(_.trim).toSet))
    }
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Null-sweep BEFORE serializing: a Scala forward-val reference inside
    // the oracle registry yields a silently-null entry; NPEing inside q()
    // would abort the dump after the parquets but before oracle_sql.json,
    // zeroing the WHOLE round's correctness (this happened in round 16).
    // A null entry must turn the gate RED, not merely be skipped: the
    // driver's compare iterates oracle keys, so a DROPPED key would read
    // as "not checked" while everything else stays green (the quiet twin
    // of the round-16 failure). Substitute a sentinel SQL that is a
    // guaranteed DuckDB error — the affected query then FAILS in the
    // correctness artifact by name instead of vanishing from it.
    val (nullEntries, liveEntries) = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .partition { case (k, v) => k == null || v == null }
    nullEntries.keys.foreach(k =>
      System.err.println(s"[verify] FATAL: null oracle SQL for '$k' " +
        "(forward val reference in SparkEntry?) — emitting failing sentinel"))
    val sentinels = nullEntries.keys.filter(_ != null).map { k =>
      k -> s"SELECT error('null oracle SQL for $k — forward val reference in SparkEntry')"
    }
    val json = (liveEntries ++ sentinels)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
