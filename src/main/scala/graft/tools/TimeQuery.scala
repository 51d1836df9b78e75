package graft.tools

/** Per-query iteration probe: `runMain graft.tools.TimeQuery <name> [sfDir]
  * [reps]` warms the JVM, runs ONE registered query `reps` times against
  * the archived record layout (the bench's configuration) and prints each
  * pass plus the formatted physical plan — the tight loop for "explain and
  * iterate until it's the plan you'd want" without paying a full bench run.
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // q67 sidecar tables land here (the Bench/Verify convention).
    val spark = graft.GraftSession.local(cpus, "/tmp/graft-timequery-warehouse")
    val archiveDir = s"/tmp/graft-bench-archive-${Integer.toHexString(sfDir.hashCode)}"
    graft.log.LogStore.ensureMaterialized(spark, sfDir, archiveDir)
    spark.conf.set("spark.graft.recordSource", "archive")
    spark.conf.set("spark.graft.archiveDir", archiveDir)
    val fn = graft.SparkEntry.queries(name)
    // For queries with a build-time side effect (q67 writes its sidecar
    // once per session), the first build's cost is the landing cost —
    // report it separately from the steady-state passes.
    val b0 = System.nanoTime()
    val first = fn(spark, sfDir)
    println(f"[timequery] $name build (incl. one-time landing work): ${(System.nanoTime() - b0) / 1e9}%.3f s")
    first.explain("formatted")
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      graft.ops.Materialize.releaseAll(spark)
      spark.catalog.clearCache()
      println(f"[timequery] $name pass $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    spark.stop()
  }
}
