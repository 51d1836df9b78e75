package graft.tools

/** Multi-query timing probe for the SCALING.md core-scaling rows:
  * `runMain graft.tools.TimeMany <q1,q2,...> [sfDir] [passes]` runs the
  * named registered queries with the Bench's methodology (untimed
  * warm-up pass, then `passes` INTERLEAVED timed passes, min per query,
  * noop sink, caches released between queries) on `local[$SPARK_GRAFT_CPUS]`
  * — one JVM for a whole query list, so an 8-vs-32-core comparison at
  * the 64× corpus is two invocations, not 2×N. Dev-side only; the bench
  * contract lives in [[graft.Bench]].
  */
object TimeMany {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus, "/tmp/graft-timemany-warehouse")
    val archiveDir = s"/tmp/graft-bench-archive-${Integer.toHexString(sfDir.hashCode)}"
    graft.log.LogStore.ensureMaterialized(spark, sfDir, archiveDir)
    spark.conf.set("spark.graft.recordSource", "archive")
    spark.conf.set("spark.graft.archiveDir", archiveDir)
    val fns = names.map(n => n -> graft.SparkEntry.queries(n))
    // Untimed warm-up (JIT + codegen + any one-time sidecar landing).
    fns.foreach { case (n, fn) =>
      spark.sparkContext.setJobDescription(s"warmup:$n")
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case scala.util.control.NonFatal(e) =>
        println(s"[timemany] $n warmup ERROR: ${e.toString.take(200)}") }
      finally { graft.ops.Materialize.releaseAll(spark); spark.catalog.clearCache() }
    }
    val times = scala.collection.mutable.Map.empty[String, List[Double]]
    (1 to passes).foreach { p =>
      fns.foreach { case (n, fn) =>
        spark.sparkContext.setJobDescription(s"pass$p:$n")
        val t0 = System.nanoTime()
        try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        catch { case scala.util.control.NonFatal(e) =>
          println(s"[timemany] $n pass$p ERROR: ${e.toString.take(200)}") }
        val t = (System.nanoTime() - t0) / 1e9
        graft.ops.Materialize.releaseAll(spark)
        spark.catalog.clearCache()
        times(n) = t :: times.getOrElse(n, Nil)
        println(f"[timemany] $n pass $p: $t%.3f s")
      }
    }
    names.foreach { n =>
      val ts = times.getOrElse(n, Nil)
      if (ts.nonEmpty)
        println(f"[timemany] MIN $n ${ts.min}%.3f s (cpus=$cpus%s, sf=$sfDir%s)")
    }
    spark.stop()
  }
}
