package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.mutable

import graft.Harness

/** Multi-query timing and profile probe for the SCALING.md rows:
  * `runMain graft.tools.TimeMany <q1,q2,...> [sfDir] [passes]` runs the
  * named registered queries with the Bench's methodology (an untimed
  * warm-up pass through [[graft.Harness.time]], then `passes`
  * interleaved timed passes in the same loop, min per query) on
  * `local[$SPARK_GRAFT_CPUS]`
  * over the archived record layout — one JVM for a whole query list, so
  * an 8-vs-32-core comparison at the 64× corpus is two invocations, not
  * 2×N. The warm-up line includes any one-time work, such as a sidecar
  * landing.
  *
  * After the MIN lines it prints, for each query's final pass, its
  * construction (the wall time and jobs before the sink is entered: the
  * eager driver jobs that build the DataFrame) apart from its execution
  * (the sink's wall time and jobs), then every job with its wall time
  * and every stage with task count, duration and input and shuffle
  * bytes — the "where do the seconds go" view the totals can't give
  * (the UI is disabled; this is its stand-in). A query that throws
  * before its sink has no split line.
  * Dev-side only; the bench contract lives in [[graft.Bench]].
  */
object TimeMany {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus, "/tmp/graft-timemany-warehouse")
    graft.log.RecordLog.archive(spark, sfDir)
    def show(n: String, label: String, r: Harness.Timed): Unit =
      println(f"[timemany] $n $label: ${r.seconds}%.3f s" +
        r.error.fold("")(e => s" ERROR: ${e.toString.take(200)}"))
    val warm = Harness.time(spark, names, sfDir, 1).head
    names.foreach(n => show(n, "warmup", warm(n)))

    // Registered after the warm-up; the listener bus is asynchronous, so
    // late warm-up events can still arrive and the table keeps only jobs
    // started from `since` on.
    val since = System.currentTimeMillis()
    case class JobRec(id: Int, desc: String, start: Long, var end: Long = -1L)
    case class StageRec(jobId: Int, stageId: Int, nameLine: String,
        tasks: Int, ms: Long, shuffleReadB: Long, shuffleWriteB: Long,
        inputB: Long)
    val jobs = mutable.ArrayBuffer.empty[JobRec]
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val stageToJob = mutable.Map.empty[Int, Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs.synchronized {
          jobs += JobRec(e.jobId, desc, e.time)
          e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
        }
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.synchronized {
          jobs.find(_.id == e.jobId).foreach(_.end = e.time)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
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

    // The timed passes are Harness.time's loop with a sink that stamps
    // when it is entered: jobs started before that stamp are the
    // query's construction, the rest its execution.
    // name -> (epoch ms the sink was entered, construction seconds)
    val entered = mutable.Map.empty[String, (Long, Double)]
    val timed =
      try (1 to passes).map { p =>
        names.map { n =>
          spark.sparkContext.setJobDescription(s"pass$p:$n")
          entered -= n
          val t0 = System.nanoTime()
          n -> Harness.run(spark, n, sfDir) { df =>
            entered(n) = (System.currentTimeMillis(), (System.nanoTime() - t0) / 1e9)
            df.write.format("noop").mode("overwrite").save()
          }
        }.toMap
      }
      finally spark.sparkContext.setJobDescription(null)
    for ((pass, p) <- timed.zipWithIndex; n <- names) show(n, s"pass ${p + 1}", pass(n))
    names.foreach { n =>
      val ok = timed.map(_(n)).filter(_.error.isEmpty).map(_.seconds)
      if (ok.nonEmpty)
        println(f"[timemany] MIN $n ${ok.min}%.3f s (cpus=$cpus%s, sf=$sfDir%s)")
    }
    // Stopping the session drains the listener bus, so every job and
    // stage of the final pass has been recorded before the table prints.
    spark.stop()
    names.foreach { n =>
      val js = jobs.filter(j => j.desc == s"pass$passes:$n" && j.start >= since)
        .sortBy(_.start)
      val ids = js.map(_.id).toSet
      val nStages = stages.count(s => ids(s.jobId))
      println(f"\n===== $n pass $passes: ${timed.last(n).seconds}%.3f s, ${js.size} jobs, $nStages stages =====")
      entered.get(n).foreach { case (at, c) =>
        val (build, exec) = js.partition(_.start < at)
        println(f"  construction ${c}%.3f s, ${build.size} jobs; " +
          f"execution ${timed.last(n).seconds - c}%.3f s, ${exec.size} jobs")
      }
      js.foreach { j =>
        val dur = if (j.end >= 0) (j.end - j.start) / 1e3 else -1.0
        val ss = stages.filter(_.jobId == j.id)
        println(f"  job ${j.id}%3d ${dur}%7.3f s  stages=${ss.size}%2d  tasks=${ss.map(_.tasks).sum}%4d  ${j.desc.take(80)}")
        ss.sortBy(_.stageId).foreach { s =>
          println(f"    stage ${s.stageId}%4d ${s.ms / 1e3}%7.3f s tasks=${s.tasks}%4d in=${s.inputB}%9d sr=${s.shuffleReadB}%9d sw=${s.shuffleWriteB}%9d  ${s.nameLine.take(70)}")
        }
      }
    }
  }
}
