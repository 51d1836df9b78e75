package perfbench

import java.lang.management.ManagementFactory
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.SparkSession

import graft.core.Config
import graft.log.LogStore
import graft.server.HttpService

/** The serving benchmark's server process: a warm `graft.server.HttpService`
  * on a session shaped like `graft.Bench`'s (`local[cpus]`,
  * `GraftExtensions`, the archived record layout), plus a control port the
  * load generator uses to read counters the HTTP API does not expose.
  *
  * Arguments:
  *   --run-dir D     fresh working directory (archive, warehouse, ready files)
  *   --sf D          fixture the record log is archived from
  *   --cpus N
  *   --plan F        JSON request plan whose serial reference is computed
  *                   in-process after set-up
  *   --trace 0|1     1 also starts the span-recording [[TracedService]] and
  *                   registers the layer listeners
  *
  * Protocol: `<run-dir>/setup.json` appears (atomically) once the server
  * answers; `<run-dir>/ready.json` once the plan's references are computed
  * (the generator's untimed passes then end set-up). The control port
  * serves `/bench/mark`, `/bench/stats`, `/bench/live`, `/bench/spans` and
  * `/bench/stop`.
  */
object BenchServer {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val runDir = opt("run-dir")
    val sfDir = opt("sf")
    val cpus = opt("cpus")
    val trace = opt.get("trace").contains("1")
    val phases = mapper.createObjectNode()
    var mark = System.nanoTime()
    def phase(name: String): Unit = {
      val now = System.nanoTime()
      phases.put(name, (now - mark) / 1e9)
      mark = now
    }

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    phase("session_s")

    // A fresh archive on every run, never a reused one: a cold build on one
    // run and a reused directory on the next would make set-up bimodal.
    val archiveDir = s"$runDir/archive"
    LogStore.materialize(spark, sfDir, archiveDir)
    spark.conf.set("spark.graft.recordSource", "archive")
    spark.conf.set("spark.graft.archiveDir", archiveDir)
    phase("archive_s")

    val config = Config.load()
    val service = new HttpService(spark, 0, config).start()
    phase("service_s")

    val listeners = if (trace) Some(Listeners.register(spark)) else None
    val traced = if (trace) Some(new TracedService(spark, config).start()) else None
    val control = new Control(spark, listeners, traced)

    val stamps = mapper.createObjectNode()
    stamps.put("cpus", cpus)
    stamps.put("xmx_mb", Runtime.getRuntime.maxMemory() / (1024 * 1024))
    stamps.put("shuffle_partitions", spark.conf.get("spark.sql.shuffle.partitions"))
    stamps.put("record_source", spark.conf.get("spark.graft.recordSource"))
    stamps.put("spark", spark.version)
    val setup = mapper.createObjectNode()
    setup.put("port", service.boundPort)
    setup.put("control_port", control.port)
    traced.foreach(t => setup.put("traced_port", t.port))
    setup.set[JsonNode]("stamps", stamps)
    writeAtomically(s"$runDir/setup.json", mapper.writeValueAsString(setup))

    val plan = mapper.readTree(Files.readAllBytes(Paths.get(opt("plan"))))
    val refs = Reference.compute(spark, config, plan)
    phase("reference_s")
    val ready = mapper.createObjectNode()
    ready.set[JsonNode]("refs", refs)
    ready.set[JsonNode]("phases", phases)
    writeAtomically(s"$runDir/ready.json", mapper.writeValueAsString(ready))
    control.awaitStop()
    traced.foreach(_.stop())
    service.stop()
    spark.stop()
    // The HTTP servers' idle worker threads are not daemons.
    sys.exit(0)
  }

  def writeAtomically(path: String, text: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, text.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Counters read by the generator around the timed phase. GC time and
    * the post-collection heap peak count from the last `/bench/mark`. */
  final class Control(spark: SparkSession, listeners: Option[Listeners],
      traced: Option[TracedService]) {
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    private val stopped = new java.util.concurrent.CountDownLatch(1)
    @volatile private var gcBase = 0L
    // Peak heap occupancy right after a collection: with a fixed heap the
    // plain peak is the heap size, whatever the program keeps alive.
    @volatile private var liveHeapPeak = 0L

    private def gcMs: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter =>
        e.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val after = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
              case (pool, u) if heapPoolNames(pool) => u.getUsed
            }.sum
            liveHeapPeak = liveHeapPeak.max(after)
          }
        }, null, null)
      case _ => ()
    }
    private lazy val heapPoolNames: Set[String] =
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

    private def reply(ex: HttpExchange, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, bytes.length.toLong)
      ex.getResponseBody.write(bytes); ex.close()
    }

    private def stats(): ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("live_frames", graft.ops.Materialize.liveCount(spark))
      o.put("gc_ms", gcMs - gcBase)
      o.put("heap_peak_mb", liveHeapPeak / (1024.0 * 1024.0))
      val active = mapper.createArrayNode()
      spark.streams.active.foreach(q => active.add(q.name))
      o.set[JsonNode]("active_streams", active)
      listeners.foreach(l => o.set[JsonNode]("listeners", l.snapshot(mapper)))
      o
    }

    server.createContext("/bench/mark", ex => {
      liveHeapPeak = 0L
      gcBase = gcMs
      reply(ex, mapper.writeValueAsString(stats()))
    })
    server.createContext("/bench/stats", ex => reply(ex, mapper.writeValueAsString(stats())))
    // The heap the server keeps alive: used heap after a full collection.
    // The second collection frees what Spark's ContextCleaner released when
    // the first one cleared its weak references.
    server.createContext("/bench/live", ex => {
      System.gc()
      Thread.sleep(500)
      System.gc()
      val o = mapper.createObjectNode()
      o.put("heap_live_mb",
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0))
      reply(ex, mapper.writeValueAsString(o))
    })
    server.createContext("/bench/spans", ex =>
      reply(ex, traced.map(t => mapper.writeValueAsString(t.spans.dump(mapper))).getOrElse("{}")))
    server.createContext("/bench/stop", ex => { reply(ex, "{}"); stopped.countDown() })
    server.setExecutor(java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "perfbench-control"); t.setDaemon(true); t
    }))
    server.start()

    def port: Int = server.getAddress.getPort
    def awaitStop(): Unit = { stopped.await(); server.stop(0) }
  }
}
