package graft.streaming

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Streaming distribution telemetry — the NINTH batch/streaming
  * duality, pairing q53/q96's exact batch percentiles: per micro-batch
  * a fixed-grid bucket histogram (exact Long counts, trivially
  * mergeable by addition), so the driver holds one running array whose
  * quantile BRACKETS are sound for the whole stream at any point. The
  * honest streaming answer to a percentile question over unbounded
  * input, mirroring [[StreamHitters]]' mergeable-summary pattern: the
  * stream maintains a bounded-size summary with explicit error bounds
  * (here: the bucket width), and the exact pass (q96's radix selection)
  * runs at audit time over the landed corpus.
  *
  * The merged histogram over any batch split is BIT-equal to the batch
  * histogram of the union (integer addition commutes; the per-value
  * bucket index is a pure function) — StreamQuantilesSpec pins it, plus
  * the bracket-contains-exact-percentile property. */
object StreamQuantiles {

  /** Fixed bucket grid over [lo, hi): `buckets` equal widths; values
    * outside clamp into the edge buckets (the telemetry convention —
    * outliers register at the edges rather than vanish). */
  final case class Grid(lo: Double, hi: Double, buckets: Int) {
    require(buckets > 0 && hi > lo, s"bad grid: [$lo, $hi) / $buckets")
    val width: Double = (hi - lo) / buckets
  }

  /** The grid's bucket index as a column — exposed so the batch
    * histogram can register as an oracle-checked query (q116). */
  def bucketExpr(valueCol: String, g: Grid): org.apache.spark.sql.Column =
    bucketCol(valueCol, g)

  private def bucketCol(valueCol: String, g: Grid) =
    least(greatest(floor((col(valueCol) - lit(g.lo)) / lit(g.width)), lit(0.0)),
      lit((g.buckets - 1).toDouble)).cast("int")

  /** The batch histogram as a dense Long array (a ≤`buckets`-row
    * bounded driver collect). Null values carry no distribution
    * information and are dropped before bucketing (a null bucket index
    * would otherwise surface as a null group row and NPE the collect,
    * killing the streaming query on the first null-bearing batch). */
  def histogram(batch: DataFrame, valueCol: String, g: Grid): Array[Long] = {
    val out = Array.fill(g.buckets)(0L)
    batch.filter(col(valueCol).isNotNull)
      .select(bucketCol(valueCol, g).as("b"))
      .groupBy("b").agg(count(lit(1)).as("n"))
      .collect().foreach(r => out(r.getInt(0)) = r.getLong(1))
    out
  }

  /** Configure (not start) the monitor: `sink` receives each
    * micro-batch's histogram and the batch id; the caller merges by
    * element-wise addition. */
  def monitor(docs: DataFrame, valueCol: String, g: Grid)(
      sink: (Array[Long], Long) => Unit): DataStreamWriter[Row] =
    MicroBatch.each(docs) { (batch, batchId) =>
      sink(histogram(batch, valueCol, g), batchId)
    }

  /** The quantile bracket for `p` under the engine's selection rule
    * (rank = floor(p·(n−1))): the containing bucket's [lo, hi) bounds.
    * The exact percentile of the observed stream lies within. */
  def bracket(hist: Array[Long], p: Double, g: Grid): (Double, Double) = {
    val n = hist.sum
    require(n > 0, "empty histogram")
    require(p >= 0.0 && p <= 1.0, s"p out of range: $p")
    val rank = math.floor(p * (n - 1)).toLong
    var cum = 0L
    var i = 0
    while (cum + hist(i) <= rank) { cum += hist(i); i += 1 }
    (g.lo + i * g.width, g.lo + (i + 1) * g.width)
  }
}
