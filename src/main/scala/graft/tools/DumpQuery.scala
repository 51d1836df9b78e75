package graft.tools

/** Single-query slice of Verify: `runMain graft.tools.DumpQuery <names>
  * [sfDir] [outDir]` dumps each named query's result parquet plus an
  * oracle_sql.json restricted to those names, so
  * `tools/local_check.py <sfDir> <outDir>` gates just the queries under
  * iteration without paying the full 120-query dump. `names` is a comma
  * list.
  */
object DumpQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 2) args(2) else "/tmp/graft_out_one"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.GraftSession.local(cpus, "/tmp/graft-verify-warehouse")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      graft.ops.Materialize.releaseAll(spark)
      println(f"[dumpquery] $name: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    def esc(s: String): String = s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val sql = graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    val json = sql.map { case (k, v) => s""""${esc(k)}": "${esc(v)}"""" }
      .mkString("{", ", ", "}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes("UTF-8"))
    spark.stop()
  }
}
