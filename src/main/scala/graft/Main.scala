package graft

import graft.core.QueryOptions
import graft.log.LogQuery
import graft.render.JsonArrayRender
import graft.server.HttpService

/** The reference's dual entrypoint (`/root/reference/src/kbrowse/core.clj:164-182`):
  * `cli` runs one search and prints the JSON array to stdout; `server`
  * starts the HTTP API.
  *
  * Sandbox binding: `--bootstrap-servers` carries the fixture directory
  * (the cluster address of the parquet-backed record log), e.g.
  *
  *   runMain graft.Main cli --bootstrap-servers /root/testdata/sf0.001
  *     --topics events --key-regex 13
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: graft.Main (cli|server) [--opts ...]")
    val spark = GraftSession.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"), "spark-warehouse")
    args.head match {
      case "cli" if args.contains("--help") =>
        // The reference prints the option summary on --help (`core.clj:170-172`).
        println("""usage: cli --bootstrap-servers DIR --topics T1,T2 [options]
          |  --key-regex R --val-regex R      full-match filters
          |  --partitions 3,5                 explicit partition pruning
          |  --default-partition              murmur2(key-regex) pruning
          |  --relative-offset N              seek earliest+N (N<0: latest+N)
          |  --start-timestamp MS --stop-timestamp MS
          |  --print-offset N --follow
          |  --key-deserializer C --value-deserializer C --schema-registry-url U""".stripMargin)
        spark.stop()
      case "cli" =>
        val opts = QueryOptions.parse(args.toSeq.tail)
        val df = LogQuery.canonical(LogQuery.stream(spark, opts.bootstrapServers, opts))
        // Not `print`: System.out flushes at every newline, and a pretty
        // record holds several. Each chunk of `render` (records coalesced
        // up to 4 KB, and each partition's end) is one write to stdout.
        val stdout = new java.io.FileOutputStream(java.io.FileDescriptor.out)
        JsonArrayRender.render(df, stdout.write(_))
        stdout.write('\n')
        spark.stop()
      case "server" =>
        val config = graft.core.Config.load()
        val svc = new HttpService(spark, config.port, config).start()
        println(s"\ngraft ready...\nhttp://localhost:${svc.boundPort}")
        Thread.currentThread().join()
      case other =>
        throw new IllegalArgumentException(s"unknown mode: $other (cli|server)")
    }
  }
}
