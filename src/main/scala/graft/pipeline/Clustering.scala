package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding clustering for corpus curation: deterministic k-means
  * (Lloyd's) and the cluster-then-dedup shape built on it — semantic
  * near-duplicate removal (k-means partitions the corpus, exact cosine
  * runs only WITHIN a cluster), the SemDeDup recipe. The trained
  * centroids are also exactly what a real IVF index needs, upgrading the
  * hash-blocked q26 cells to learned coarse cells.
  *
  * Determinism and oracle parity — the interesting problem here is that
  * textbook k-means is nondeterministic on a cluster: centroid updates
  * average floats, and float addition does not commute across partition
  * orders. We lift every embedding to fixed point once at the start
  * (`floor(v * 2^20 + 0.5)` per component, exact longs):
  *
  *  - centroid SUMS are exact integer arithmetic — order-independent, so
  *    the result is identical however Spark partitions the corpus (the
  *    100 TB-correct answer, not just an oracle trick);
  *  - each centroid component is then ONE double division `sum/n` — a
  *    single IEEE op on identical operands in any engine;
  *  - assignment scores stay in the lifted domain: `score_c =
  *    fxd·c − |c|²/2` (the `|x−c|² = |x|² − 2x·c + |c|²` decomposition
  *    with the x-only term dropped — argmax(score) = argmin(dist)), all
  *    dot products SEQUENTIAL index-order folds (`vec_dot` native
  *    expression / DuckDB `list_reduce`), ties to the lowest cluster id.
  *
  * The DuckDB oracle ([[kmeansOracleSql]]) replays the same iterations as
  * unrolled CTEs and reproduces assignments AND scores bit-for-bit — no
  * float tolerance anywhere.
  *
  * Scale shape: training runs in one of two regimes, decided by ONE
  * bounded collect of the lifted (vec_id, fx) rows ([[collectBounded]]):
  *
  *  - driver regime, the training frame holds at most
  *    [[MaxCentroidCells]] cells (n×dim): that collect is the only
  *    training job, and every Lloyd's round runs in driver memory
  *    ([[lloyd]]) — at fixture scale a round costs microseconds, where
  *    a Spark job per round cost ~0.1 s of scheduling and planning;
  *  - distributed regime, past the bound: per round, assignment is a
  *    pure per-row expression against k collected centroids (zero
  *    shuffle) and the update one two-phase aggregation over slim
  *    (cluster, pos, long) triples — map-side combine collapses each
  *    partition to ≤ k×dim rows before the exchange, and the driver
  *    holds only k×dim longs (the O(P)-metadata pattern of
  *    [[graft.ops.ScalableCumSum]]).
  *
  * Both regimes give the same centroid bits (LloydRegimesSpec calls
  * each on the same frames), and the final assignment is the zero-shuffle
  * `argmax_dot` scan in both. Empty clusters simply drop out of later
  * rounds (ids of surviving clusters are stable).
  */
object Clustering {

  /** Fixed-point lift scale (2^20). Embedding components are O(1), so
    * lifted values are ~2^20 and round-1 scores (sums of 40-bit products
    * over the dimension) stay below 2^53 — exactly representable. */
  val Scale = 1048576.0

  /** vec_id, emb (double), fx (exact fixed-point longs), fxd (same values
    * as doubles — the domain every dot product runs in). Cached: the
    * training collect, the final assignment scan and the query-vector
    * reads all consume it, and the distributed regime re-scans it once
    * per k-means round (query-lifetime intent, same contract as
    * [[Similarity.bucketedNearDupPairs]]; registered with
    * [[graft.ops.Materialize]] so session owners can release it — no
    * barrier, the training collect consumes it first). */
  private[graft] def lifted(corpus: DataFrame, idCol: String, embCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    graft.ops.Materialize.register(corpus
      .select(col(idCol).cast("long").as("vec_id"),
        col(embCol).cast("array<double>").as("emb"))
      .withColumn("fx", expr(s"transform(emb, v -> floor(v * ${Scale}D + 0.5D))"))
      .withColumn("fxd", expr("transform(fx, v -> CAST(v AS DOUBLE))")))
  }

  /** Driver-side index-order fold of |c|² — the exact op sequence the
    * oracle's `list_reduce` runs (the shared [[VecOps]] fold). */
  private def normSq(c: Array[Double]): Double = VecOps.normSq(c)

  /** Adds `cluster` (long) and `score` (double) columns: argmax over the
    * given centroids of `vec_dot(fxd, c) − 0.5·|c|²`, ties to the lowest
    * cluster id (`cents` is sorted by cluster id; the expression's
    * strictly-greater fold keeps the first maximum).
    *
    * The centroid matrix reaches the plan as ONE literal argument to the
    * native `argmax_dot` expression — one call-sized generated method
    * whatever k is. The previous formulation (k `vec_dot` columns + a
    * k-deep `when`-chain) was O(k) generated code, which crosses the JVM
    * huge-method JIT limit at IVF-scale k (10³–10⁵ clusters); see
    * [[graft.functions.ArgmaxDotExpr]] and the SCALING.md q22 lesson.
    * ClusteringSpec pins the two forms bit-identical (the old chain
    * survives as [[chainWithCluster]]).
    *
    * No centroids (training saw no vectors) assign nothing: the frame
    * is empty, as the oracle's cross join with an empty centroid set. */
  private[graft] def withCluster(e: DataFrame, cents: Seq[(Long, Array[Double])]): DataFrame = {
    if (cents.isEmpty)
      return e.where(lit(false))
        .withColumn("cluster", lit(null).cast("long"))
        .withColumn("score", lit(null).cast("double"))
    val r = graft.functions.GraftFunctions.argmaxDot(col("fxd"),
      typedLit(cents.map(_._2.toSeq)),
      typedLit(cents.map { case (_, c) => 0.5 * normSq(c) }),
      typedLit(cents.map(_._1)))
    e.withColumn("__r", r)
      .withColumn("cluster", col("__r").getField("cluster"))
      .withColumn("score", col("__r").getField("score"))
      .drop("__r")
  }

  /** The k-node expression-tree assignment [[withCluster]] replaced —
    * kept as the equivalence-test mirror (ClusteringSpec pins identical
    * clusters AND score bits at k=8; not for production use at large k,
    * see [[withCluster]]'s scaladoc). */
  private[graft] def chainWithCluster(e: DataFrame,
      cents: Seq[(Long, Array[Double])]): DataFrame = {
    val scores = cents.map { case (_, c) =>
      call_function("vec_dot", col("fxd"), typedLit(c.toSeq)) - lit(0.5 * normSq(c))
    }
    val scored = e.withColumn("__s", array(scores: _*))
    var bestS: Column = col("__s").getItem(0)
    var bestJ: Column = lit(cents.head._1)
    for (m <- 1 until cents.size) {
      val sm = col("__s").getItem(m)
      val nextJ = when(sm > bestS, lit(cents(m)._1)).otherwise(bestJ)
      val nextS = when(sm > bestS, sm).otherwise(bestS)
      bestJ = nextJ
      bestS = nextS
    }
    scored.withColumn("cluster", bestJ).withColumn("score", bestS).drop("__s")
  }

  /** Hard bound on driver-held training cells, used twice:
    *  - k×dim, the centroid state of one refinement (the distributed
    *    [[updateCentroids]] collects ≤ k×dim (cluster, pos, sum, count)
    *    rows ≈ 32 bytes each, so 2²⁴ caps that collect at ~512 MB). This
    *    is the explicit O(k×dim)-metadata contract of the operator,
    *    stated the way [[graft.ops.ScalableCumSum]] states its O(P) one:
    *    k-means here is the IVF/SemDeDup COARSE quantizer (k up to ~10⁵
    *    at dim ~10² fits with 100× headroom), not a per-row codebook;
    *  - n×dim, the training frame itself: at or below it the frame is
    *    collected once ([[collectBounded]], 8 bytes a cell) and every
    *    Lloyd's round runs in driver memory ([[lloyd]]); past it each
    *    round stays a distributed scan plus aggregate
    *    ([[distributedLloyd]]). */
  val MaxCentroidCells: Long = 1L << 24

  private def requireCentroidCells(k: Int, dim: Int): Unit =
    require(k.toLong * dim <= MaxCentroidCells,
      s"k×dim = ${k.toLong * dim} exceeds the O(k×dim) driver-metadata " +
        s"contract ($MaxCentroidCells cells): the centroid refinement " +
        "holds one (sum, count) cell per (cluster, position) on the " +
        "driver — see Clustering.MaxCentroidCells")

  /** One Lloyd's update: exact per-(cluster, position) long sums via
    * two-phase aggregation, k×dim rows collected, one double division per
    * component on the driver ([[MaxCentroidCells]] bounds the collect;
    * the caller `require`s it). Empty clusters yield no rows and drop
    * out; a position null in every member sums to 0 (null reads 0). */
  private[pipeline] def updateCentroids(assigned: DataFrame, dim: Int): Seq[(Long, Array[Double])] = {
    val rows = assigned
      .select(col("cluster"), posexplode(col("fx")).as(Seq("pos", "v")))
      .groupBy("cluster", "pos")
      .agg(coalesce(sum("v"), lit(0L)).as("s"), count(lit(1)).as("n"))
      .collect()
    rows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (cid, rs) =>
      val c = new Array[Double](dim)
      rs.foreach { r =>
        c(r.getInt(1)) = r.getLong(2).toDouble / r.getLong(3).toDouble
      }
      (cid, c)
    }
  }

  /** One collected row of a lifted frame: `id` is null for a null
    * `vec_id`, `fx` is null for a null embedding, and a null component
    * reads 0 — as every `vec_dot` (null slots read 0.0) and every
    * `sum` (nulls skipped) over the frame reads it. */
  private[pipeline] final case class LiftedRow(id: java.lang.Long, fx: Array[Long])

  /** The (vec_id, fx) rows of lifted frame `e` in `orderBy("vec_id")`
    * order (null ids first), or None when `e` holds more than
    * [[MaxCentroidCells]] cells (a null or empty vector counts as one).
    * ONE job of one task: the task reads partitions in turn and stops
    * as soon as the bound is passed, buffering at most the bound and
    * shipping nothing past it — this collect decides the regime. */
  private[pipeline] def collectBounded(e: DataFrame): Option[Array[LiftedRow]] = {
    val qe = e.select(col("vec_id"), col("fx")).queryExecution
    val rdd = org.apache.spark.sql.execution.SQLExecution
      .withNewExecutionId(qe, Some("train"))(qe.executedPlan.execute())
    val bound = MaxCentroidCells
    val got = rdd.sparkContext.runJob(rdd.coalesce(1),
      (it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) => {
        val buf = Array.newBuilder[LiftedRow]
        var cells = 0L
        while (cells <= bound && it.hasNext) {
          val r = it.next()
          val fx = if (r.isNullAt(1)) null else {
            val a = r.getArray(1)
            Array.tabulate(a.numElements())(i => if (a.isNullAt(i)) 0L else a.getLong(i))
          }
          cells += (if (fx == null) 1 else math.max(1, fx.length))
          buf += LiftedRow(if (r.isNullAt(0)) null else r.getLong(0), fx)
        }
        if (cells <= bound) buf.result() else null
      })
    // An empty plan can have no partition at all, hence no task.
    Option(got.headOption.getOrElse(Array.empty[LiftedRow])).map(_.sortBy(r =>
      if (r.id == null) (0, 0L) else (1, r.id.longValue)))
  }

  /** Lloyd's rounds in driver memory over [[collectBounded]] rows,
    * training on components `[from, from + d)` of each vector; returns
    * the centroids of round `rounds` (the ones its assignment uses).
    * It reproduces [[distributedLloyd]] bit for bit:
    *  - seeds are the first k rows (the k lowest ids), cluster id =
    *    0-based rank;
    *  - assignment is the `argmax_dot` rule itself
    *    ([[graft.functions.ArgmaxDotExpr.argmax]]) over the sequential
    *    [[VecOps.dot]] fold in the lifted domain;
    *  - centroids are exact `Long` sums per (cluster, position), then
    *    one `Double` division per component;
    *  - empty clusters drop out and surviving ids stay stable;
    *  - null vectors assign nowhere and add nothing.
    * Callers check every non-null vector holds `from + d` components. */
  private[pipeline] def lloyd(rows: Array[LiftedRow], k: Int, rounds: Int,
      from: Int, d: Int): Seq[(Long, Array[Double])] = {
    def sub(fx: Array[Long]): Array[Double] =
      Array.tabulate(d)(p => fx(from + p).toDouble)
    var cents: Seq[(Long, Array[Double])] = rows.take(k).zipWithIndex.map {
      case (r, i) =>
        require(r.fx != null, s"k-means seed ${r.id} has a null embedding")
        (i.toLong, sub(r.fx))
    }.toSeq
    for (_ <- 2 to rounds) {
      val cs = cents.map(_._2).toArray
      val halfNorms = cs.map(c => 0.5 * VecOps.normSq(c))
      val sums = Array.ofDim[Long](cs.length, d)
      val counts = new Array[Long](cs.length)
      rows.foreach { r =>
        if (r.fx != null) {
          val v = sub(r.fx)
          val (best, _) = graft.functions.ArgmaxDotExpr.argmax(cs.length,
            j => VecOps.dot(v, cs(j)) - halfNorms(j))
          counts(best) += 1
          val s = sums(best)
          var p = 0
          while (p < d) { s(p) = Math.addExact(s(p), r.fx(from + p)); p += 1 }
        }
      }
      cents = cents.indices.filter(counts(_) > 0).map { j =>
        (cents(j)._1, Array.tabulate(d)(p => sums(j)(p).toDouble / counts(j).toDouble))
      }
    }
    cents
  }

  /** The distributed rounds, the regime past [[MaxCentroidCells]]
    * training cells: a seed collect, then per round one `argmax_dot`
    * scan plus the [[updateCentroids]] aggregate. Same result as
    * [[lloyd]] over the whole vector. */
  private[pipeline] def distributedLloyd(e: DataFrame, k: Int,
      rounds: Int): Seq[(Long, Array[Double])] = {
    val seedRows = e.orderBy("vec_id").limit(k).select("fxd").collect()
    if (seedRows.isEmpty) return Seq.empty
    require(seedRows.forall(!_.isNullAt(0)), "a k-means seed has a null embedding")
    val dim = seedRows.head.getSeq[Double](0).length
    requireCentroidCells(k, dim)
    var cents: Seq[(Long, Array[Double])] = seedRows.zipWithIndex.map {
      case (r, i) => (i.toLong, r.getSeq[Double](0).toArray)
    }.toSeq
    for (_ <- 2 to rounds) cents = updateCentroids(withCluster(e, cents), dim)
    cents
  }

  /** k-means centroids over the whole vector from collected rows: the
    * seed's length is the dimension every vector must share. */
  private[pipeline] def driverLloyd(rows: Array[LiftedRow], k: Int,
      rounds: Int): Seq[(Long, Array[Double])] =
    if (rows.isEmpty) Seq.empty
    else {
      require(rows.head.fx != null, s"k-means seed ${rows.head.id} has a null embedding")
      val dim = rows.head.fx.length
      requireCentroidCells(k, dim)
      rows.foreach(r => require(r.fx == null || r.fx.length == dim,
        s"k-means dimension mismatch: vector ${r.id} has ${r.fx.length} " +
          s"components, the seeds have $dim"))
      lloyd(rows, k, rounds, 0, dim)
    }

  /** The trained centroids of lifted frame `e`: in driver memory from
    * `rows` (its [[collectBounded]] result) when there are rows, else
    * by the distributed rounds. */
  private[pipeline] def centroids(e: DataFrame, rows: Option[Array[LiftedRow]],
      k: Int, rounds: Int): Seq[(Long, Array[Double])] = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    rows.fold(distributedLloyd(e, k, rounds))(driverLloyd(_, k, rounds))
  }

  /** The lifted (vec_id, fxd) vectors of `queryIds` in lifted frame
    * `e`: picked from `rows` (its [[collectBounded]] result) when
    * present, else read by one filter collect. */
  private[pipeline] def queryVectors(e: DataFrame, rows: Option[Array[LiftedRow]],
      queryIds: Seq[Long]): Seq[(Long, Array[Double])] = rows match {
    case Some(rs) =>
      val wanted = queryIds.toSet
      rs.toSeq.filter(r => r.id != null && wanted(r.id.longValue))
        .map(r => (r.id.longValue, r.fx.map(_.toDouble)))
    case None =>
      e.filter(col("vec_id").isin(queryIds: _*))
        .select(col("vec_id"), col("fxd")).collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
  }

  /** Assignment after `rounds` rounds, still carrying `emb` (for
    * downstream exact-cosine work), plus the centroids the final
    * assignment used (the trained coarse-quantizer codebook — what
    * [[ivfTopK]] probes). Seeds: the k lowest-id vectors, cluster id =
    * 0-based rank in that order. Training is one bounded collect plus
    * driver rounds up to [[MaxCentroidCells]] cells, distributed rounds
    * past it; the final assignment is the zero-shuffle `argmax_dot`
    * scan either way. */
  private[pipeline] def trainAssign(e: DataFrame, k: Int,
      rounds: Int): (DataFrame, Seq[(Long, Array[Double])]) = {
    val cents = centroids(e, collectBounded(e), k, rounds)
    (withCluster(e, cents), cents)
  }

  private def assignWithEmb(e: DataFrame, k: Int, rounds: Int): DataFrame =
    trainAssign(e, k, rounds)._1

  /** Deterministic k-means assignment: (vec_id, cluster, score), `rounds`
    * assignment rounds with a centroid refinement between each pair. */
  def kmeans(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, rounds: Int): DataFrame =
    assignWithEmb(lifted(corpus, idCol, embCol), k, rounds)
      .select(col("vec_id"), col("cluster"), col("score"))
      .orderBy("vec_id")

  /** The deterministic md5 sample gate for codebook training (the
    * shared [[DupClusters.groupSplit]] idiom, `km:`-prefixed so the
    * draw is independent of every other gate in the pipeline).
    * Granularity 1/65536; rates that floor to an empty sample raise
    * loudly. */
  private[pipeline] def sampleGate(frac: Double): org.apache.spark.sql.Column = {
    require(frac > 0.0 && frac < 1.0, s"sampleFrac must be in (0,1): $frac")
    val threshold = math.floor(frac * 65536).toLong
    require(threshold > 0,
      s"sampleFrac $frac is below the md5 gate's 1/65536 granularity")
    substring(md5(concat(lit("km:"), col("vec_id").cast("string"))), 1, 4) <
      lit(f"$threshold%04x")
  }

  /** The WHERE clause rendering [[sampleGate]] for the DuckDB oracle. */
  private[pipeline] def sampleGateSql(frac: Double): String = {
    val threshold = math.floor(frac * 65536).toLong
    f"substr(md5('km:' || CAST(vec_id AS VARCHAR)), 1, 4) < '$threshold%04x'"
  }

  /** SAMPLE-TRAINED k-means (VERDICT r14 #2): Lloyd's trains on a
    * deterministic md5-gated fraction of the corpus, then the learned
    * centroids assign the FULL corpus in one extra [[withCluster]] scan
    * — the 100 TB codebook discipline made an exercised, oracle-gated
    * path instead of a scaladoc promise. At scale training touches only
    * `sampleFrac` of the data — and a sample of at most
    * [[MaxCentroidCells]] cells trains in the driver regime, one bounded
    * collect — while the one full-corpus pass is the same zero-shuffle
    * `argmax_dot` scan [[kmeans]] ends with; quality
    * degrades gracefully because centroids are distribution estimates
    * (ProductQuantSpec measures retrieval recall under sampled vs full
    * training). Seeds are the k lowest-id vectors OF THE SAMPLE, so the
    * whole derivation — gate, seeds, every refinement — replays exactly
    * in the oracle ([[kmeansSampledOracleSql]]); at `sampleFrac ≥ 1`
    * use [[kmeans]]. */
  def kmeansSampled(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, rounds: Int, sampleFrac: Double): DataFrame = {
    val e = lifted(corpus, idCol, embCol)
    val (_, cents) = trainAssign(e.filter(sampleGate(sampleFrac)), k, rounds)
    withCluster(e, cents)
      .select(col("vec_id"), col("cluster"), col("score"))
      .orderBy("vec_id")
  }

  /** IVF approximate-nearest-neighbor retrieval over the learned coarse
    * cells — the scale path that upgrades [[Similarity.batchTopK]]'s
    * full-corpus scan: k-means blocks the corpus into k cells, each
    * query probes only its `nprobe` best cells, and exact cosine runs
    * against just those cells' members. Returns `(qid, vec_id, cos,
    * rn)`, the [[Similarity.batchTopK]] shape; at `nprobe = k` the two
    * are identical row for row (ClusteringSpec pins it, bits included),
    * and smaller `nprobe` trades recall for a k/nprobe scan cut.
    *
    * Scale shape: training is [[trainAssign]]'s (one bounded collect in
    * the driver regime, one zero-shuffle `argmax_dot` scan per round
    * past it); at query time the probe list —
    * `queryIds × nprobe` (query-batch contract of [[Similarity
    * .batchTopK]]: a handful, requiring so) — BROADCASTS, candidates are
    * scored map-side inside their cells, and the per-(partition, query)
    * bounded heaps of [[Similarity.topKPerQid]] prune to ≤ topK before
    * the only query-side shuffle. Probe-cell selection runs on the
    * driver against the k collected centroids with the exact arithmetic
    * the oracle replays (sequential dots in the lifted domain,
    * score-desc / cell-asc tie-break). */
  def ivfTopK(corpus: DataFrame, idCol: String, embCol: String,
      queryIds: Seq[Long], k: Int, rounds: Int, nprobe: Int,
      topK: Int): DataFrame =
    Similarity.topKPerQid(
      ivfScored(corpus, idCol, embCol, queryIds, k, rounds, nprobe), topK)

  /** The pre-ranking candidate scores of [[ivfTopK]] — exposed so
    * PlanAuditSpec can assert the probe join's physical shape (the heap
    * prune's RDD boundary hides this subtree from the final plan). */
  private[graft] def ivfScored(corpus: DataFrame, idCol: String, embCol: String,
      queryIds: Seq[Long], k: Int, rounds: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= k, s"nprobe must be in [1, $k]: $nprobe")
    require(queryIds.nonEmpty && queryIds.size <= 1000,
      s"query batch of ${queryIds.size} exceeds the broadcast contract " +
        "(batchTopK-style bounded query batch)")
    val spark = corpus.sparkSession
    import spark.implicits._
    val e = lifted(corpus, idCol, embCol)
    val (assigned, cents) = trainAssign(e, k, rounds)
    // ONE query-slice scan: the collected rows carry both the lifted
    // vector (probe-cell selection) and the raw embedding, from which
    // the whole broadcast probe table (qid, cell, qv, qnrm) is built
    // driver-side — qnrm via the same sequential |v|² fold + sqrt the
    // plan-side `sqrt(vec_dot(emb, emb))` computes, so cos bits are
    // unchanged.
    val qRows = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("fxd"), col("emb")).collect()
    // Centroid half-norms are query-invariant — computed once, not per
    // (query, centroid).
    val halfNorms = cents.map { case (cid, c) => (cid, c, 0.5 * normSq(c)) }
    val probes = qRows.toSeq.flatMap { r =>
      val qid = r.getLong(0)
      val fxd = r.getSeq[Double](1).toArray
      val emb = r.getSeq[Double](2).toArray
      val qnrm = math.sqrt(normSq(emb))
      halfNorms.map { case (cid, c, hn) =>
        (cid, VecOps.dot(fxd, c) - hn)
      }.sortBy { case (cid, s) => (-s, cid) }
        .take(nprobe)
        .map { case (cid, _) => (qid, cid, emb.toSeq, qnrm) }
    }
    val probeDf = probes.toDF("qid", "cell", "qv", "qnrm")
    assigned
      .select(col("cluster").as("cell"), col("vec_id"), col("emb"),
        expr("sqrt(vec_dot(emb, emb))").as("nrm"))
      .join(broadcast(probeDf), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("vec_dot(emb, qv) / (nrm * qnrm)").as("cos"))
  }

  /** IVF retrieval against a STORED index sidecar
    * ([[CorpusWriter.writeIvfIndex]] + [[CorpusWriter.appendToIvfIndex]]
    * landings) — the deployment form of [[ivfTopK]]: centroids are
    * trained ONCE when the corpus lands and every later probe (and every
    * landing's assignment scan) reads standing state instead of
    * re-running Lloyd's. `queries` supplies the query vectors
    * explicitly — the serving shape, where probes need not be corpus
    * members at all.
    *
    * Scale shape: the index table is PARTITIONED by cell, so the probe
    * reads only the `queries × nprobe` probed cells' directories
    * (PartitionFilters — LandedIvfSpec pins the pruned scan, the q112
    * discipline applied to ANN); centroids are a ≤ k-row collect;
    * probe-cell selection runs driver-side with the exact
    * sequential-fold arithmetic [[ivfTopK]] uses (lift → dot − ½|c|²,
    * score-desc / cell-asc ties), so a stored index answers bit-equal
    * to the in-session path under the same centroids. Candidates score
    * map-side inside their cells and [[Similarity.topKPerQid]]'s
    * bounded heaps prune to ≤ topK before the only shuffle. */
  def ivfTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, idCol: String, embCol: String,
      nprobe: Int, topK: Int): DataFrame =
    Similarity.topKPerQid(
      ivfScoredFromIndex(spark, table, queries, idCol, embCol, nprobe), topK)

  /** The pre-ranking candidate scores of [[ivfTopKFromIndex]] — exposed
    * so LandedIvfSpec can assert the probe scan's partition pruning
    * (the heap prune's RDD boundary hides this subtree, the
    * [[ivfScored]] convention). */
  private[graft] def ivfScoredFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, idCol: String, embCol: String,
      nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    import spark.implicits._
    val meta = spark.table(s"${table}_meta").collect()
    require(meta.length == 1, s"malformed IVF-index meta: ${meta.length} rows")
    val k = meta(0).getAs[Int]("k")
    val dim = meta(0).getAs[Int]("dim")
    require(nprobe >= 1 && nprobe <= k, s"nprobe must be in [1, $k]: $nprobe")
    val cents = spark.table(s"${table}_cent").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    require(cents.forall(_._2.length == dim),
      s"IVF-index centroid dim mismatch against meta dim=$dim")
    val qRows = queries
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .collect()
    require(qRows.nonEmpty && qRows.length <= 1000,
      s"query batch of ${qRows.length} exceeds the broadcast contract " +
        "(batchTopK-style bounded query batch)")
    val halfNorms = cents.map { case (cid, c) => (cid, c, 0.5 * normSq(c)) }
    val probes = qRows.toSeq.flatMap { r =>
      val qid = r.getLong(0)
      val emb = r.getSeq[Double](1).toArray
      // The driver-side replay of `lifted`'s plan-side lift: floor is
      // integral and |fx| ≪ 2^53, so the long round-trip is identity.
      val fxd = emb.map(v => math.floor(v * Scale + 0.5))
      val qnrm = math.sqrt(normSq(emb))
      halfNorms.map { case (cid, c, hn) => (cid, VecOps.dot(fxd, c) - hn) }
        .sortBy { case (cid, s) => (-s, cid) }
        .take(nprobe)
        .map { case (cid, _) => (qid, cid, emb.toSeq, qnrm) }
    }
    val probeDf = probes.toDF("qid", "cell", "qv", "qnrm")
    val cells = probes.map(_._2).distinct
    // Standing tombstones (un-applied deletes) are un-servable NOW —
    // the LSM delete discipline (CorpusWriter.appendTombstones).
    CorpusWriter.withoutTombstones(spark, table, spark.table(table))
      .filter(col("cell").isin(cells: _*))
      .withColumn("nrm", expr("sqrt(vec_dot(emb, emb))"))
      .join(broadcast(probeDf), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        expr("vec_dot(emb, qv) / (nrm * qnrm)").as("cos"))
  }

  /** Semantic near-dup removal (the SemDeDup shape): k-means first, then
    * exact cosine only WITHIN each cluster; a vector is dropped when a
    * lower-id vector in the same cluster has cosine ≥ `minCos` (greedy
    * by id — deterministic, and chains collapse to the lowest member).
    * Returns (vec_id, cluster, keep).
    *
    * Scale: ONE shuffle, of the cluster-keyed VECTORS — each cluster's
    * members gather once and the quadratic cosine scan runs in primitive
    * loops inside `flatMapGroups`, emitting one (id, cluster, keep) row
    * per member. Pair rows never materialize: the self-join formulation
    * this replaced carried BOTH full embeddings on every candidate pair
    * row (C²/2 rows × 2·dim doubles per cluster through the exchange) —
    * the exact shape [[Similarity.topPairPerGroup]]'s 64× probe measured
    * at 51s vs 1.6s, and SemDeDup clusters are near-dup-dense BY DESIGN,
    * so the blow-up lands where the data is thickest. The join form
    * survives as [[joinSemanticDedup]]; ClusteringSpec pins the two
    * bit-identical on the planted-family fixture. Quadratic WORK within
    * a cluster remains the operator's contract — k grows with the corpus
    * so cells stay bounded (the q26 bounded-cell rule). The drop scan
    * early-exits per member at the first dropping neighbor, and no
    * join-back is needed at all (the group already holds every member).
    *
    * Arithmetic parity with the join form and the DuckDB oracle: members
    * scan in ascending-id order, so each pair's dot runs
    * (lower-id)·(higher-id) with the same sequential fold as `vec_dot`,
    * and norms are the same `sqrt(vec_dot(e, e))` folds. */
  def semanticDedup(corpus: DataFrame, idCol: String, embCol: String,
      k: Int, rounds: Int, minCos: Double): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val a = assignWithEmb(lifted(corpus, idCol, embCol), k, rounds)
    a.select(col("cluster"), col("vec_id"), col("emb"))
      .as[(Long, Long, Array[Double])]
      .groupByKey(_._1)
      .flatMapGroups { (cluster: Long, it: Iterator[(Long, Long, Array[Double])]) =>
        val idBuf = scala.collection.mutable.ArrayBuffer.empty[Long]
        val embBuf = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
        it.foreach { case (_, id, emb) => idBuf += id; embBuf += emb }
        val n = idBuf.length
        val order = Array.range(0, n).sortBy(idBuf(_))
        val ids = order.map(idBuf(_))
        val embs = order.map(embBuf(_))
        val nrms = embs.map(VecOps.norm)
        val dropped = new Array[Boolean](n)
        var j = 1
        while (j < n) {
          var i = 0
          while (i < j && !dropped(j)) {
            if (VecOps.dot(embs(i), embs(j)) / (nrms(i) * nrms(j)) >= minCos)
              dropped(j) = true
            i += 1
          }
          j += 1
        }
        Iterator.range(0, n).map(m => (ids(m), cluster, !dropped(m)))
      }
      .toDF("vec_id", "cluster", "keep")
      .orderBy("vec_id")
  }

  /** The self-join + anti-join formulation [[semanticDedup]] replaced —
    * kept as the equivalence-test mirror (ClusteringSpec pins identical
    * output on the planted near-dup fixture). */
  private[graft] def joinSemanticDedup(corpus: DataFrame, idCol: String,
      embCol: String, k: Int, rounds: Int, minCos: Double): DataFrame = {
    val a = assignWithEmb(lifted(corpus, idCol, embCol), k, rounds)
      .withColumn("nrm", expr("sqrt(vec_dot(emb, emb))"))
    val l = a.select(col("cluster"), col("vec_id").as("vec_a"),
      col("emb").as("emb_a"), col("nrm").as("nrm_a"))
    val r = a.select(col("cluster"), col("vec_id").as("vec_b"),
      col("emb").as("emb_b"), col("nrm").as("nrm_b"))
    val dropped = l.join(r, Seq("cluster"))
      .filter(col("vec_a") < col("vec_b"))
      .filter(expr("vec_dot(emb_a, emb_b) / (nrm_a * nrm_b)") >= minCos)
      .select(col("vec_b").as("vec_id")).distinct()
      .withColumn("__dropped", lit(true))
    a.join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        not(coalesce(col("__dropped"), lit(false))).as("keep"))
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- oracle

  private[pipeline] def fold(items: String): String =
    s"list_reduce(list_prepend(0.0, $items), (acc, v) -> acc + v)"

  private[pipeline] def dotSql(a: String, b: String, dim: Int): String =
    fold(s"list_transform(range(1, ${dim + 1}), __i -> $a[__i] * $b[__i])")

  /** The default oracle corpus: the embeddings table, components as
    * doubles. */
  val EmbeddingsSql: String =
    "(SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb FROM embeddings)"

  /** The `e` CTE body + one assignment/update CTE pair per round,
    * mirroring [[assignWithEmb]] op for op. Returns the full WITH-chain
    * prefix ending at assignment CTE `a$rounds`. `prefix` namespaces
    * every CTE (e → ${prefix}e etc.) so multiple chains can share one
    * WITH — [[ProductQuant]] unrolls one chain per subspace. */
  private[pipeline] def kmeansCtes(k: Int, rounds: Int, dim: Int,
      corpusSql: String, prefix: String = ""): String = {
    val p = prefix
    val lift = s"list_transform(emb, v -> CAST(floor(v * $Scale + 0.5) AS BIGINT))"
    val sb = new StringBuilder
    sb ++= s"""WITH ${p}e AS (SELECT vec_id, emb, $lift AS fx,
               |    list_transform($lift, v -> CAST(v AS DOUBLE)) AS fxd
               |  FROM $corpusSql),
               |${p}c1 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, fxd AS c
               |  FROM ${p}e ORDER BY vec_id LIMIT $k)""".stripMargin
    for (t <- 1 to rounds) {
      sb ++= s""",
                 |${p}a$t AS (SELECT vec_id, cid AS cluster, score FROM (
                 |    SELECT vec_id, cid, score,
                 |      row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid) AS rn
                 |    FROM (SELECT e.vec_id, c.cid,
                 |            ${dotSql("e.fxd", "c.c", dim)} - 0.5 * ${dotSql("c.c", "c.c", dim)} AS score
                 |          FROM ${p}e e CROSS JOIN ${p}c$t c))
                 |  WHERE rn = 1)""".stripMargin
      if (t < rounds) {
        sb ++= s""",
                   |${p}s$t AS (SELECT a.cluster AS cid, t.i AS pos,
                   |    CAST(sum(e.fx[t.i]) AS BIGINT) AS s, count(*) AS n
                   |  FROM ${p}a$t a JOIN ${p}e e USING (vec_id) CROSS JOIN range(1, ${dim + 1}) t(i)
                   |  GROUP BY a.cluster, t.i),
                   |${p}c${t + 1} AS (SELECT cid, list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY pos) AS c
                   |  FROM ${p}s$t GROUP BY cid)""".stripMargin
      }
    }
    sb.result()
  }

  /** DuckDB oracle for [[kmeans]]. */
  def kmeansOracleSql(k: Int, rounds: Int, dim: Int,
      corpusSql: String = EmbeddingsSql): String =
    s"""${kmeansCtes(k, rounds, dim, corpusSql)}
       |SELECT vec_id, cluster, score FROM a$rounds ORDER BY vec_id""".stripMargin

  /** The lifted-corpus CTE body (vec_id, fxd) over `corpusSql`. */
  private[pipeline] def liftedSql(corpusSql: String): String = {
    val lift = s"list_transform(emb, v -> CAST(floor(v * $Scale + 0.5) AS BIGINT))"
    s"SELECT vec_id, list_transform($lift, v -> CAST(v AS DOUBLE)) AS fxd FROM $corpusSql"
  }

  /** The [[kmeansSampled]] WITH-chain: the unrolled k-means CTEs over
    * the md5-gated training sample (prefix `t_`), then one full-corpus
    * assignment `fa` against the final centroids `t_c$rounds` — shared
    * by [[kmeansSampledOracleSql]] and [[clusterBalancedOracleSql]]. */
  private def sampledAssignCtes(k: Int, rounds: Int, dim: Int,
      sampleFrac: Double, corpusSql: String): String = {
    val trainSql = s"(SELECT * FROM $corpusSql t WHERE ${sampleGateSql(sampleFrac)})"
    s"""${kmeansCtes(k, rounds, dim, trainSql, "t_")},
       |fe AS (${liftedSql(corpusSql)}),
       |fa AS (
       |  SELECT vec_id, cid AS cluster, score FROM (
       |    SELECT e.vec_id, c.cid,
       |      ${dotSql("e.fxd", "c.c", dim)} - 0.5 * ${dotSql("c.c", "c.c", dim)} AS score,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${dotSql("e.fxd", "c.c", dim)} - 0.5 * ${dotSql("c.c", "c.c", dim)} DESC,
       |        c.cid) AS rn
       |    FROM fe e CROSS JOIN t_c$rounds c)
       |  WHERE rn = 1)""".stripMargin
  }

  /** DuckDB oracle for [[kmeansSampled]]. */
  def kmeansSampledOracleSql(k: Int, rounds: Int, dim: Int,
      sampleFrac: Double, corpusSql: String = EmbeddingsSql): String =
    s"""${sampledAssignCtes(k, rounds, dim, sampleFrac, corpusSql)}
       |SELECT vec_id, cluster, score FROM fa ORDER BY vec_id""".stripMargin

  /** Cluster-BALANCED deterministic subsample (round 15): assign the
    * corpus under sample-trained k-means, then keep at most `cap`
    * vectors per cluster by the [[Sampling.stratified]] md5 draw — the
    * diversity-rebalancing selection (SemDeDup/DataComp lineage: dense
    * regions are over-represented; capping per cell flattens the
    * cluster mass without an RNG). Output `(cluster, vec_id, rn ≤ cap)`.
    *
    * Scale shape: the assignment is [[kmeansSampled]]'s (training on
    * the gated sample, one zero-shuffle full scan to assign); the cap
    * reuses [[Sampling.heapRank]] — per-partition bounded heaps forward
    * ≤ cap rows per cluster per partition, so the rank shuffle moves
    * ≤ cap×P rows per cluster, never the corpus. No corpus-wide window
    * anywhere. */
  def clusterBalancedSample(corpus: DataFrame, idCol: String,
      embCol: String, k: Int, rounds: Int, sampleFrac: Double,
      cap: Int): DataFrame =
    Sampling.stratified(
        kmeansSampled(corpus, idCol, embCol, k, rounds, sampleFrac),
        "cluster", "vec_id", cap)
      .select(col("stratum").cast("long").as("cluster"),
        col("doc_id").as("vec_id"), col("rn"))
      .orderBy("cluster", "vec_id")

  /** DuckDB oracle for [[clusterBalancedSample]]: the shared sampled-
    * assignment chain + the [[Sampling]] md5-rank window per cluster. */
  def clusterBalancedOracleSql(k: Int, rounds: Int, dim: Int,
      sampleFrac: Double, cap: Int,
      corpusSql: String = EmbeddingsSql): String =
    s"""${sampledAssignCtes(k, rounds, dim, sampleFrac, corpusSql)},
       |ranked AS (
       |  SELECT cluster, vec_id,
       |    row_number() OVER (PARTITION BY cluster
       |      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rn
       |  FROM fa)
       |SELECT cluster, vec_id, rn FROM ranked
       |WHERE rn <= $cap ORDER BY cluster, vec_id""".stripMargin

  /** DuckDB oracle for [[ivfTopK]]: replays the unrolled k-means CTEs,
    * selects each query's `nprobe` best cells against the final-round
    * centroids (same lifted-domain scores, score-desc / cid-asc ties),
    * and ranks exact cosine within the probed cells — the q41 fold
    * shapes, so cos bits match. */
  def ivfOracleSql(queryIds: Seq[Long], k: Int, rounds: Int, dim: Int,
      nprobe: Int, topK: Int, corpusSql: String = EmbeddingsSql): String = {
    val cos = s"${dotSql("ce.emb", "q.emb", dim)} / " +
      s"(sqrt(${fold("list_transform(ce.emb, v -> v * v)")}) * " +
      s"sqrt(${fold("list_transform(q.emb, v -> v * v)")}))"
    s"""${kmeansCtes(k, rounds, dim, corpusSql)},
       |q AS (SELECT vec_id AS qid, fxd, emb FROM e
       |  WHERE vec_id IN (${queryIds.mkString(", ")})),
       |pc AS (SELECT qid, cid AS cell FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${dotSql("q.fxd", "c.c", dim)} - 0.5 * ${dotSql("c.c", "c.c", dim)} DESC,
       |        c.cid) AS prn
       |    FROM q CROSS JOIN c$rounds c)
       |  WHERE prn <= $nprobe),
       |cand AS (SELECT q.qid, a.vec_id, $cos AS cos
       |  FROM pc
       |  JOIN a$rounds a ON a.cluster = pc.cell
       |  JOIN e ce ON ce.vec_id = a.vec_id
       |  JOIN q ON q.qid = pc.qid
       |  WHERE a.vec_id <> pc.qid)
       |SELECT qid, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |  FROM cand)
       |WHERE rn <= $topK ORDER BY qid, vec_id""".stripMargin
  }

  /** DuckDB oracle for [[ivfTopKFromIndex]] over a sidecar landed from
    * the whole corpus in any split (write on `trainPredSql`'s rows,
    * append the rest): centroids replay the unrolled k-means CTEs over
    * the TRAINING split only (seeds = the split's k lowest-id vectors),
    * the FULL corpus assigns under those final centroids (landing ≡
    * write-time assignment — both are one `argmax_dot` scan under
    * c$rounds), and probe/rank mirror [[ivfOracleSql]]. */
  def landedIvfOracleSql(queryIds: Seq[Long], k: Int, rounds: Int,
      dim: Int, nprobe: Int, topK: Int, trainPredSql: String,
      corpusSql: String = EmbeddingsSql): String = {
    val trainSql = s"(SELECT * FROM $corpusSql t WHERE $trainPredSql)"
    val lift = s"list_transform(emb, v -> CAST(floor(v * $Scale + 0.5) AS BIGINT))"
    val cos = s"${dotSql("ce.emb", "q.emb", dim)} / " +
      s"(sqrt(${fold("list_transform(ce.emb, v -> v * v)")}) * " +
      s"sqrt(${fold("list_transform(q.emb, v -> v * v)")}))"
    s"""${kmeansCtes(k, rounds, dim, trainSql, "t_")},
       |fe AS (SELECT vec_id, emb,
       |    list_transform($lift, v -> CAST(v AS DOUBLE)) AS fxd
       |  FROM $corpusSql),
       |fa AS (SELECT vec_id, cid AS cluster FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${dotSql("e.fxd", "c.c", dim)} - 0.5 * ${dotSql("c.c", "c.c", dim)} DESC,
       |        c.cid) AS rn
       |    FROM fe e CROSS JOIN t_c$rounds c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, fxd, emb FROM fe
       |  WHERE vec_id IN (${queryIds.mkString(", ")})),
       |pc AS (SELECT qid, cid AS cell FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${dotSql("q.fxd", "c.c", dim)} - 0.5 * ${dotSql("c.c", "c.c", dim)} DESC,
       |        c.cid) AS prn
       |    FROM q CROSS JOIN t_c$rounds c)
       |  WHERE prn <= $nprobe),
       |cand AS (SELECT q.qid, a.vec_id, $cos AS cos
       |  FROM pc
       |  JOIN fa a ON a.cluster = pc.cell
       |  JOIN fe ce ON ce.vec_id = a.vec_id
       |  JOIN q ON q.qid = pc.qid
       |  WHERE a.vec_id <> pc.qid)
       |SELECT qid, vec_id, cos, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, vec_id) AS rn
       |  FROM cand)
       |WHERE rn <= $topK ORDER BY qid, vec_id""".stripMargin
  }

  /** DuckDB oracle for [[CorpusWriter.ivfCentroidDrift]] over a
    * [[CorpusWriter.writeIvfIndex]] sidecar trained on
    * `trainPredSql`'s rows, probed with the corpus drifted by `+delta`
    * (double arithmetic) on `driftPredSql`'s rows: re-derives the
    * stored centroids through the shared Lloyd CTEs, assigns the
    * drifted corpus, takes exact per-(cell, pos) fx means, and states
    * drift through the decomposed dot identity — the same
    * left-associated op sequence the Scala side computes. */
  def centroidDriftOracleSql(k: Int, rounds: Int, dim: Int,
      trainPredSql: String, driftPredSql: String, delta: Double,
      corpusSql: String = EmbeddingsSql): String = {
    val trainSql = s"(SELECT * FROM $corpusSql t WHERE $trainPredSql)"
    val lift = s"list_transform(emb2, v -> CAST(floor(v * $Scale + 0.5) AS BIGINT))"
    s"""${kmeansCtes(k, rounds, dim, trainSql, "t_")},
       |cur AS (SELECT vec_id,
       |    CASE WHEN $driftPredSql
       |      THEN list_transform(emb, v -> CAST(v AS DOUBLE) + CAST($delta AS DOUBLE))
       |      ELSE list_transform(emb, v -> CAST(v AS DOUBLE)) END AS emb2
       |  FROM $corpusSql),
       |ce AS (SELECT vec_id, $lift AS fx,
       |    list_transform($lift, v -> CAST(v AS DOUBLE)) AS fxd FROM cur),
       |ca AS (SELECT vec_id, cid AS cluster FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${dotSql("e.fxd", "c.c", dim)} - 0.5 * ${dotSql("c.c", "c.c", dim)} DESC,
       |        c.cid) AS rn
       |    FROM ce e CROSS JOIN t_c$rounds c)
       |  WHERE rn = 1),
       |ms AS (SELECT a.cluster AS cid, t.i AS pos,
       |    CAST(sum(e.fx[t.i]) AS BIGINT) AS s, count(*) AS n
       |  FROM ca a JOIN ce e USING (vec_id) CROSS JOIN range(1, ${dim + 1}) t(i)
       |  GROUP BY a.cluster, t.i),
       |mm AS (SELECT cid,
       |    list(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) ORDER BY pos) AS m,
       |    CAST(max(n) AS BIGINT) AS n_members
       |  FROM ms GROUP BY cid)
       |SELECT c.cid AS cell, mm.n_members,
       |  (${dotSql("c.c", "c.c", dim)} - 2 * ${dotSql("c.c", "mm.m", dim)}
       |     + ${dotSql("mm.m", "mm.m", dim)})
       |    / greatest(${dotSql("c.c", "c.c", dim)}, 1e-300) AS drift
       |FROM t_c$rounds c JOIN mm ON mm.cid = c.cid
       |ORDER BY cell""".stripMargin
  }

  /** DuckDB oracle for [[semanticDedup]]. */
  def semanticDedupOracleSql(k: Int, rounds: Int, dim: Int, minCos: Double,
      corpusSql: String = EmbeddingsSql): String =
    s"""${kmeansCtes(k, rounds, dim, corpusSql)},
       |d AS (SELECT a.vec_id, a.cluster, e.emb,
       |    sqrt(${fold("list_transform(e.emb, v -> v * v)")}) AS nrm
       |  FROM a$rounds a JOIN e USING (vec_id)),
       |drp AS (SELECT DISTINCT r.vec_id FROM d l JOIN d r
       |  ON l.cluster = r.cluster AND l.vec_id < r.vec_id
       |  AND ${dotSql("l.emb", "r.emb", dim)} / (l.nrm * r.nrm) >= $minCos)
       |SELECT d.vec_id, d.cluster, drp.vec_id IS NULL AS keep
       |FROM d LEFT JOIN drp ON d.vec_id = drp.vec_id
       |ORDER BY d.vec_id""".stripMargin
}
