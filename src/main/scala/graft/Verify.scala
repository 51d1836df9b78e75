package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Sidecar tables (the q67 stored-index fixture) land here rather
    // than under a cwd-relative spark-warehouse.
    val spark = GraftSession.local(cpus, "/tmp/graft-verify-warehouse")
    // Every record query reads the archive, so the oracle checks the
    // archived layout, footer-bound seeks included.
    graft.log.RecordLog.archive(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    var failed = 0
    // Local-iteration filter (driver sets nothing → full run): a
    // comma-separated list of query-name prefixes to dump.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
    val selected = only match {
      case Some(ps) =>
        SparkEntry.queries.filter { case (n, _) => ps.exists(n.startsWith) }
      case None => SparkEntry.queries
    }
    selected.keys.foreach { name =>
      Harness.run(spark, name, sfDir)(
        _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      ).error.foreach { e =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // A query that fails must surface as a RED row in the driver's
        // correctness report, not silently vanish from it: round 13's
        // fixture break left 22 queries absent and the remaining 51 all
        // green, which reads as a clean gate unless the row COUNT is
        // checked. Dump a sentinel frame whose schema can never match
        // any oracle, so the comparison fails loudly for this query.
        try {
          import spark.implicits._
          Seq(s"$name: ${e.getMessage}".take(500)).toDF("__query_failed")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    System.err.println(
      s"[verify] dumped ${selected.size - failed}/${selected.size} queries ($failed failed)")
    // Every string is escaped, control characters included — a tab or CR
    // in an oracle's SQL would otherwise make the JSON file unparseable
    // and silently drop every correctness check.
    def q(s: String): String = "\"" + Harness.jsonString(s, s.length) + "\""
    val oracles = only match {
      case Some(ps) =>
        SparkEntry.oracleSql.filter { case (n, _) => ps.exists(n.startsWith) }
      case None => SparkEntry.oracleSql
    }
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    // A FILTERED run writes its oracle subset to a DISTINCT file
    // (ADVICE r16): overwriting oracle_sql.json with a subset would
    // make a later full comparison over the same outDir silently
    // validate only the subset while looking complete.
    val oracleFile = only match {
      case Some(ps) =>
        System.err.println(
          s"[verify] FILTERED run (SPARK_GRAFT_ONLY=${ps.mkString(",")}) — " +
            "writing oracle_sql_filtered.json, not the full oracle map")
        "oracle_sql_filtered.json"
      case None => "oracle_sql.json"
    }
    Files.writeString(Paths.get(s"$outDir/$oracleFile"), json)
    spark.stop()
  }
}
