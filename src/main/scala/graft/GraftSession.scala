package graft

import org.apache.spark.sql.SparkSession

/** The one session builder for the mains and dev tools. */
object GraftSession {

  /** A local session on `cpus` cores: shuffle partitions = `cpus`, UTC
    * session time zone, [[graft.plans.GraftExtensions]], no UI, WARN log
    * level. `warehouse` is where sidecar tables (`saveAsTable`) land. */
  def local(cpus: String, warehouse: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
