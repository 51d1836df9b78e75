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

  /** Jobs started on this thread while `body` runs. The listener bus is
    * asynchronous, so a marker job under a second group is run after the
    * body: once the listener has seen it, it has seen every earlier job. */
  def jobsDuring(s: SparkSession)(body: => Unit): Int = {
    val sc = s.sparkContext
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    val probe = s"jobs-during-${java.util.UUID.randomUUID()}"
    val marker = s"$probe-marker"
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probe, "counted body", interruptOnCancel = false)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "listener marker", interruptOnCancel = false)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val until = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains(marker) && System.nanoTime() < until) Thread.sleep(10)
      assert(groups.contains(marker), "the listener never saw the marker job")
      groups.asScala.count(_ == probe)
    } finally sc.removeSparkListener(listener)
  }
}
