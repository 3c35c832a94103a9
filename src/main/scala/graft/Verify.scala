package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names for fast local iteration
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    only.foreach(SparkEntry.requireKnown)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.sql.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries.filter(kv => only.forall(_.contains(kv._1))).flatMap {
      case (name, fn) =>
        try {
          // one file per result behind an exchange: a narrow coalesce(1)
          // would run the query's whole last stage as one task
          fn(spark, sfDir).repartition(1).write.mode("overwrite").parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
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
    val json = SparkEntry.oracleSql
      .filter(kv => only.forall(_.contains(kv._1)))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // A subset run must not be mistaken for a full dump: drop a PARTIAL
    // marker (and warn) so a later "full" compare against this outDir is
    // detectable — stale parquet dirs from an earlier full run would
    // otherwise silently validate only the subset.
    val marker = Paths.get(s"$outDir/PARTIAL")
    if (only.isDefined) {
      System.err.println(s"[verify] PARTIAL run (${only.get.size} queries) — " +
        "oracle_sql.json covers only the subset; do not treat this outDir as a full dump")
      Files.writeString(marker, only.get.toSeq.sorted.mkString("\n"))
    } else Files.deleteIfExists(marker)
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    // the oracle file is written either way, so the queries that did run
    // can still be compared; the status tells a caller the dump is short
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
