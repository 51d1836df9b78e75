package graft.tools

import org.apache.spark.sql.functions._

/** Scale probe for the trigram regex index (q194 family): times the
  * STORED-index search against the full-scan `rlike` the reference
  * pays on every query, over the scaled corpus. Usage:
  *
  *   sbt "runMain graft.tools.RegexProbe /tmp/graft-sf-big 3"
  *
  * Prints the one-time landing cost, then per-pass timings for (a) the
  * indexed search and (b) the raw corpus-wide rlike scan of the same
  * pattern — the margin IS the feature (candidate-sized regex work vs
  * corpus-sized), and at this fixture's text-to-index ratio it is
  * expected to be modest; the honest reading lives in SCALING.md. */
object RegexProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/tmp/graft-sf-big"
    val reps = if (args.length > 1) args(1).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.local(cpus, "/tmp/graft-regexprobe-warehouse")
    val docs = graft.core.Tables.load(spark, sfDir, "documents")
    val tbl = "graft_regexprobe_idx"
    // The q194 pattern matches ~59% of the replica corpus (every doc's
    // near-copies match with it) — the worst case for nomination; the
    // selective pattern matches ~0.2%, the shape a takedown sweep or
    // license hunt actually has.
    val patterns = Seq(
      "broad" -> "slow [a-z]+ join|fast (table|key) order",
      "selective" -> "fast (table|key) order")

    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[regexprobe] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      r
    }

    val store = "graft_regexprobe_store"
    if (!spark.catalog.tableExists(s"${tbl}_meta"))
      timed("landing (one-time trigram index build)") {
        graft.pipeline.RegexIndex.writeRegexIndex(docs, "doc_id", "text",
          tbl, buckets = 32)
      }
    if (!spark.catalog.tableExists(s"${store}_meta"))
      timed("doc store build (one-time)") {
        graft.pipeline.RegexIndex.writeDocStore(docs, "doc_id", "text",
          store, buckets = 32)
      }

    patterns.foreach { case (kind, pattern) =>
      (1 to reps).foreach { i =>
        val viaIndex = timed(s"$kind indexed search pass $i") {
          val (n, frames) = graft.ops.Materialize.collecting {
            graft.pipeline.RegexIndex.searchFromIndex(spark, tbl, docs,
              "doc_id", "text", pattern).count()
          }
          graft.ops.Materialize.release(frames)
          n
        }
        val viaStore = timed(s"$kind store-pair search pass $i") {
          val (n, frames) = graft.ops.Materialize.collecting {
            graft.pipeline.RegexIndex.searchFromStore(spark, tbl, store,
              pattern, maxCandidates = 1000000).count()
          }
          graft.ops.Materialize.release(frames)
          n
        }
        val viaScan = timed(s"$kind full rlike scan pass $i") {
          docs.filter(col("text").rlike(pattern)).count()
        }
        require(viaIndex == viaScan && viaStore == viaScan,
          s"$viaIndex / $viaStore != $viaScan")
        println(s"[regexprobe] $kind matches: $viaIndex")
      }
    }
    // q201's shape: the index-targeted SCRUB vs the full-scan
    // regexp_replace — every doc flows through both, but the indexed
    // form evaluates the regex machinery only on nominated docs. One
    // per-pattern noop-sink pass each (the scrub's cost is
    // throughput-shaped: its output is corpus-sized by contract).
    patterns.foreach { case (kind, pattern) =>
      (1 to reps).foreach { i =>
        timed(s"$kind indexed scrub pass $i") {
          val (_, frames) = graft.ops.Materialize.collecting {
            graft.pipeline.RegexIndex.scrubFromIndex(spark, tbl, docs,
                "doc_id", "text", pattern, "[SCRUBBED]")
              .write.format("noop").mode("overwrite").save()
          }
          graft.ops.Materialize.release(frames)
        }
        timed(s"$kind full-scan scrub pass $i") {
          // Same trailing sort as scrubFromIndex so the head-to-head
          // isolates the regex work, not the listing order.
          docs.select(col("doc_id").cast("long").as("doc_id"),
              regexp_replace(col("text"), pattern, "[SCRUBBED]").as("text"))
            .orderBy("doc_id")
            .write.format("noop").mode("overwrite").save()
        }
      }
    }
    spark.stop()
  }
}
