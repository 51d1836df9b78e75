package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft-warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  val Sf = "/root/testdata/sf0.001"

  /** A new session (its own conf and resolved relations) whose record
    * log is the archive pinned at `dir` (`spark.graft.archiveDir`). */
  def onArchive(dir: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.archiveDir", dir)
    s
  }

  /** The job group a job started in ("" for none). */
  def group(e: SparkListenerJobStart): String =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  /** The start events of every job started while `body` runs, in any job
    * group and on any thread (a broadcast runs its job in a group of its
    * own). The listener bus is asynchronous, so a marker job under a
    * group of its own is run after the body: once the listener has seen
    * it, it has seen every earlier job. */
  def jobsStarted(s: SparkSession)(body: => Unit): Seq[SparkListenerJobStart] = {
    val sc = s.sparkContext
    val started = new ConcurrentLinkedQueue[SparkListenerJobStart]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = started.add(e)
    }
    val marker = s"jobs-started-marker-${java.util.UUID.randomUUID()}"
    def seen = started.asScala.exists(group(_) == marker)
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup(marker, "listener marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val until = System.nanoTime() + 30L * 1000000000L
      while (!seen && System.nanoTime() < until) Thread.sleep(10)
      assert(seen, "the listener never saw the marker job")
      started.asScala.toSeq.filter(group(_) != marker)
    } finally sc.removeSparkListener(listener)
  }

  /** Jobs started on this thread while `body` runs. */
  def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val probe = s"jobs-during-${java.util.UUID.randomUUID()}"
    jobsStarted(s) {
      sc.setJobGroup(probe, "counted body", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
    }.count(group(_) == probe)
  }
}
