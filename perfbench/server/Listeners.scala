package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** The traced run's execution and streaming layers, observed from outside
  * the program:
  *  - a `SparkListener` that attributes every job, stage and task to the
  *    request and phase tagged by [[TracedService]] (`perfbench.req`,
  *    `perfbench.phase`) and sums its task metrics;
  *  - a `StreamingQueryListener` that sums each follow query's micro-batch
  *    progress.
  */
final class Listeners extends SparkListener {
  final class Agg {
    var jobs, stages, tasks, taskWaitMs, recordsRead, bytesRead = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    def toJson(o: ObjectNode): ObjectNode = {
      o.put("jobs", jobs); o.put("stages", stages); o.put("tasks", tasks)
      o.put("task_wait_ms", taskWaitMs); o.put("records_read", recordsRead)
      o.put("bytes_read", bytesRead); o.put("shuffle_read", shuffleRead)
      o.put("shuffle_write", shuffleWrite); o.put("spill", spill)
    }
  }
  final class StreamAgg {
    var batches, rows, triggerMs, addBatchMs, listMs = 0L
  }

  private val byKey = mutable.Map.empty[(String, String), Agg]
  private val stageKey = mutable.Map.empty[Int, (String, String)]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val streams = mutable.Map.empty[String, StreamAgg]
  @volatile private var events = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    val props = Option(e.properties)
    for (p <- props; req <- Option(p.getProperty("perfbench.req"))) {
      val key = (req, Option(p.getProperty("perfbench.phase")).getOrElse("exec"))
      byKey.getOrElseUpdate(key, new Agg).jobs += 1
      e.stageIds.foreach(stageKey(_) = key)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    events += 1
    stageKey.get(e.stageInfo.stageId).foreach { key =>
      byKey(key).stages += 1
      stageSubmitted(e.stageInfo.stageId) =
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    stageKey.get(e.stageId).foreach { key =>
      val a = byKey(key)
      a.tasks += 1
      stageSubmitted.get(e.stageId).foreach(s => a.taskWaitMs += (e.taskInfo.launchTime - s).max(0L))
      Option(e.taskMetrics).foreach { m =>
        a.recordsRead += m.inputMetrics.recordsRead
        a.bytesRead += m.inputMetrics.bytesRead
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Listeners.this.synchronized {
        events += 1
        val p = e.progress
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        val a = streams.getOrElseUpdate(String.valueOf(p.name), new StreamAgg)
        if (p.numInputRows > 0) {
          a.batches += 1
          a.rows += p.numInputRows
          a.triggerMs += ms("triggerExecution")
          a.addBatchMs += ms("addBatch")
          a.listMs += ms("latestOffset") + ms("getBatch")
        }
      }
  }

  /** Waits until no listener event arrived for 300 ms (the listener bus is
    * asynchronous), then returns every aggregate. */
  def snapshot(mapper: ObjectMapper): ObjectNode = {
    var last = -1L
    val deadline = System.currentTimeMillis() + 5000
    while (events != last && System.currentTimeMillis() < deadline) {
      last = events
      Thread.sleep(300)
    }
    synchronized {
      val out = mapper.createObjectNode()
      val reqs = mapper.createObjectNode()
      byKey.foreach { case ((req, phase), a) =>
        val r = Option(reqs.get(req)).map(_.asInstanceOf[ObjectNode]).getOrElse(reqs.putObject(req))
        a.toJson(r.putObject(phase))
      }
      out.set[JsonNode]("requests", reqs)
      val ss = mapper.createObjectNode()
      streams.foreach { case (name, a) =>
        val o = ss.putObject(name)
        o.put("batches", a.batches); o.put("rows", a.rows); o.put("trigger_ms", a.triggerMs)
        o.put("add_batch_ms", a.addBatchMs); o.put("list_ms", a.listMs)
      }
      out.set[JsonNode]("streams", ss)
      out
    }
  }
}

object Listeners {
  def register(spark: SparkSession): Listeners = {
    val l = new Listeners
    spark.sparkContext.addSparkListener(l)
    spark.streams.addListener(l.streaming)
    l
  }
}
