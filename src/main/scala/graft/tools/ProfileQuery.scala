package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

/** Per-query job/stage breakdown: `runMain graft.tools.ProfileQuery <name>
  * [sfDir] [reps]` runs a registered query under a SparkListener and
  * prints, for the LAST (steady-state) pass, every job with its wall time
  * and every stage with task count, duration and shuffle bytes — the
  * "where do the seconds go" view the bench totals can't give (guide §1:
  * measure first; the UI is disabled in the bench, this is its stand-in).
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    val qnames = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus, "/tmp/graft-profile-warehouse")
    val archiveDir = s"/tmp/graft-bench-archive-${Integer.toHexString(sfDir.hashCode)}"
    graft.log.LogStore.ensureMaterialized(spark, sfDir, archiveDir)
    spark.conf.set("spark.graft.recordSource", "archive")
    spark.conf.set("spark.graft.archiveDir", archiveDir)

    case class JobRec(id: Int, desc: String, start: Long, var end: Long = -1L)
    case class StageRec(jobId: Int, stageId: Int, nameLine: String,
        tasks: Int, ms: Long, shuffleReadB: Long, shuffleWriteB: Long,
        inputB: Long)
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val stageToJob = mutable.Map.empty[Int, Int]
    var capture = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (capture) {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized {
          jobs += JobRec(e.jobId, desc, e.time)
          e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (capture) {
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (capture) {
          val si = e.stageInfo
          val ms = (for {s <- si.submissionTime; c <- si.completionTime}
            yield c - s).getOrElse(-1L)
          jobs.synchronized {
            stages += StageRec(
              stageToJob.getOrElse(si.stageId, -1), si.stageId,
              si.name.linesIterator.next(), si.numTasks, ms,
              si.taskMetrics.shuffleReadMetrics.totalBytesRead,
              si.taskMetrics.shuffleWriteMetrics.bytesWritten,
              si.taskMetrics.inputMetrics.bytesRead)
          }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    qnames.foreach { name =>
    val fn = graft.SparkEntry.queries(name)
    // Pass 0 (untimed, uncaptured): fixture builds + JIT.
    fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    graft.ops.Materialize.releaseAll(spark)
    spark.catalog.clearCache()
    (1 to reps).foreach { i =>
      jobs.clear(); stages.clear(); stageToJob.clear()
      capture = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val total = (System.nanoTime() - t0) / 1e9
      capture = false
      graft.ops.Materialize.releaseAll(spark)
      spark.catalog.clearCache()
      Thread.sleep(200) // let listener drain
      println(f"\n===== $name pass $i: $total%.3f s, ${jobs.size} jobs, ${stages.size} stages =====")
      jobs.sortBy(_.start).foreach { j =>
        val dur = if (j.end >= 0) (j.end - j.start) / 1e3 else -1.0
        val js = stages.filter(_.jobId == j.id)
        println(f"  job ${j.id}%3d ${dur}%7.3f s  stages=${js.size}%2d  tasks=${js.map(_.tasks).sum}%4d  ${j.desc.take(80)}")
        js.sortBy(_.stageId).foreach { s =>
          println(f"    stage ${s.stageId}%4d ${s.ms / 1e3}%7.3f s tasks=${s.tasks}%4d in=${s.inputB}%9d sr=${s.shuffleReadB}%9d sw=${s.shuffleWriteB}%9d  ${s.nameLine.take(70)}")
        }
      }
    }
    }
    spark.stop()
  }
}
