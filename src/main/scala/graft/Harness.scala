package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one place a main runs a registered query ([[SparkEntry.queries]]):
  * [[Bench]], [[Verify]], [[Plans]] and the `graft.tools` mains all build,
  * sink, time and release through [[run]]. Each builds the record-log
  * archive first, untimed, with [[graft.log.RecordLog.archive]].
  */
object Harness {

  /** The wall time of one [[run]] (build plus sink) and what it threw. */
  final case class Timed(seconds: Double, error: Option[Throwable])

  /** Build the registered query `name` on `sfDir`, pass it to `sink` and
    * time both. Any throwable is returned, not thrown, so one failing
    * query cannot end a run over all of them. The query's
    * [[graft.ops.Materialize]] frames are released whether it returns or
    * throws, so the next query is not taxed by this one's caches. */
  def run(spark: SparkSession, name: String, sfDir: String)(
      sink: DataFrame => Unit): Timed = {
    val t0 = System.nanoTime()
    val error =
      try { sink(SparkEntry.queries(name)(spark, sfDir)); None }
      catch { case e: Throwable => Some(e) }
      finally graft.ops.Materialize.releaseAll(spark)
    Timed((System.nanoTime() - t0) / 1e9, error)
  }

  /** `passes` interleaved passes over `names`: every query runs once per
    * pass, then the next pass starts, so a contention band shorter than a
    * whole pass cannot tax all of one query's samples.
    * Each query runs through [[run]] into the noop sink, with its jobs
    * described `pass<p>:<name>`; the description is cleared afterwards.
    * Returns one map per pass. */
  def time(spark: SparkSession, names: Seq[String], sfDir: String,
      passes: Int): Seq[Map[String, Timed]] =
    try (1 to passes).map { p =>
      names.map { name =>
        spark.sparkContext.setJobDescription(s"pass$p:$name")
        name -> run(spark, name, sfDir)(
          _.write.format("noop").mode("overwrite").save())
      }.toMap
    }
    finally spark.sparkContext.setJobDescription(null)

  /** JSON-string-safe rendering of `s` cut to at most `max` UTF-16
    * units: the cut lands on a code-point boundary (a trailing high
    * surrogate is dropped rather than shipped alone), and backslash,
    * quote, and control characters are escaped. */
  def jsonString(s: String, max: Int): String = {
    val cut =
      if (s.length <= max) s.length
      else if (Character.isHighSurrogate(s.charAt(max - 1))) max - 1
      else max
    val sb = new StringBuilder(cut + 8)
    var i = 0
    while (i < cut) {
      s.charAt(i) match {
        case '\\' => sb.append("\\\\")
        case '"' => sb.append("\\\"")
        case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
        case c => sb.append(c)
      }
      i += 1
    }
    sb.result()
  }
}
