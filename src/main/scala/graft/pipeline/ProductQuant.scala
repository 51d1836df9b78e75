package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Product quantization — the embedding-COMPRESSION half of the ANN
  * family. [[Clustering.ivfTopK]] cuts the SCAN (probe few cells);
  * PQ cuts the BYTES: the d-dim vector becomes `m` small codes (one
  * per d/m-dim subspace, each the id of the nearest subspace centroid),
  * so a 64-dim float vector compresses to `m` bytes and retrieval
  * scores CODES against a per-query lookup table instead of vectors —
  * the standard IVF-PQ decomposition (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011).
  *
  * Training reuses [[Clustering]]'s deterministic fixed-point Lloyd's
  * machinery verbatim, once per subspace over the SLICED lifted vectors
  * (same seeds rule per subspace: the k lowest-id vectors' subvectors;
  * same argmax_dot assignment rule; same exact integer centroid sums),
  * so codes are bit-reproducible and the oracle replays one unrolled
  * CTE chain per subspace. Training runs in [[Clustering]]'s two
  * regimes ([[trainBooks]]): up to [[Clustering.MaxCentroidCells]]
  * training cells, ONE bounded collect and every subspace's rounds in
  * driver memory; past it, one distributed job per round for all m
  * subspaces. At 100 TB the codebook pass trains on a sample
  * (`sampleFrac`, which can bring it back under the driver bound) —
  * here it trains on the full corpus so the oracle can replay it
  * exactly; the ENCODE pass is the full-corpus scan either way, and is
  * the part that must scale: ONE zero-shuffle scan whose projection
  * carries all m `argmax_dot` columns (r21 — previously m scans
  * unioned).
  *
  * Retrieval ([[adcTopK]]) is asymmetric distance computation: the
  * query stays uncompressed; its dot product against every corpus
  * vector is approximated by Σ_m LUT[m][code_m] where LUT[m][j] =
  * ⟨q_m, centroid_{m,j}⟩ — m×k driver-computed doubles per query
  * ([[VecOps.dot]], the oracle's exact fold), riding as a ≤1000-row
  * BROADCAST (qid, lut) relation onto ONE scan of the code arrays for
  * the whole batch ([[adcScores]]). The corpus-side scan touches only
  * the m-long code arrays: no vector math, no shuffle until the
  * [[Similarity.topKPerQid]] bounded-heap rank. Scores sum the m
  * partial terms in
  * ascending-m order (one `aggregate` HOF ≡ the oracle's ordered
  * `list_reduce`), keeping the approximation bit-reproducible too. */
object ProductQuant {

  /** PQ codes: (vec_id, m ∈ [0, m), code ∈ [0, k)) — one row per
    * (vector, subspace), ordered. `dim` must split evenly into `m`
    * subspaces. */
  def encode(corpus: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, rounds: Int, dim: Int): DataFrame =
    encodeWithBooks(corpus, idCol, embCol, m, k, rounds, dim)._1
      .orderBy("vec_id", "m")

  /** The exploded code frame (unordered) plus the per-subspace
    * codebooks the final assignment used. `sampleFrac < 1` trains each
    * subspace's Lloyd's on the md5-gated sample
    * ([[Clustering.sampleGate]]) and assigns the FULL corpus under the
    * sample-trained codebooks — the 100 TB codebook discipline
    * ([[Clustering.kmeansSampled]]'s scaladoc) applied per subspace. */
  private[pipeline] def encodeWithBooks(corpus: DataFrame, idCol: String,
      embCol: String, m: Int, k: Int, rounds: Int, dim: Int,
      sampleFrac: Double = 1.0)
      : (DataFrame, Seq[Seq[(Long, Array[Double])]]) = {
    val (e, books, codesCol) =
      trained(corpus, idCol, embCol, m, k, rounds, dim, sampleFrac)
    (e.select(col("vec_id"), posexplode(codesCol).as(Seq("m", "code"))),
      books)
  }

  /** The lifted frame, trained codebooks, and the m-long code-array
    * COLUMN over it — the shared seam of [[encodeWithBooks]] (which
    * posexplodes it to rows) and [[codeArrays]] (which keeps the
    * array). One projection carries every subspace's `argmax_dot`, so
    * the encode pass is ONE zero-shuffle corpus scan however large `m`
    * is (r21: it was m scans unioned, and the code-ARRAY form paid a
    * further corpus shuffle re-assembling rows it had just exploded). */
  private def trained(corpus: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, rounds: Int, dim: Int, sampleFrac: Double)
      : (DataFrame, Seq[Seq[(Long, Array[Double])]], Column) = {
    require(m >= 1 && dim % m == 0,
      s"dim=$dim must split evenly into m=$m subspaces")
    val e = Clustering.lifted(corpus, idCol, embCol)
    val trainE =
      if (sampleFrac >= 1.0) e
      else e.filter(Clustering.sampleGate(sampleFrac))
    val books = trainBooks(trainE, Clustering.collectBounded(trainE), m, k,
      rounds, dim / m)
    (encodable(e, books), books, codesColumn(books, dim / m))
  }

  /** `e`, or nothing when training saw no vectors: with empty
    * codebooks nothing encodes, as the oracle's cross join with an
    * empty codebook. */
  private def encodable(e: DataFrame,
      books: Seq[Seq[(Long, Array[Double])]]): DataFrame =
    if (books.exists(_.isEmpty)) e.where(lit(false)) else e

  /** The m-long code array: every subspace's [[subAssign]] in one
    * projection. */
  private def codesColumn(books: Seq[Seq[(Long, Array[Double])]], d: Int): Column =
    array(books.indices.map(mi => subAssign(mi, books(mi), d)): _*)

  /** Subspace `mi`'s assignment column: `argmax_dot` over the sliced
    * lifted vector — the exact [[Clustering.withCluster]] expression on
    * `slice(fxd)`, so codes are bit-identical to training each
    * subspace through [[Clustering.trainAssign]] (ProductQuantSpec
    * pins subspace 0 against a standalone k-means). */
  private def subAssign(mi: Int, cents: Seq[(Long, Array[Double])],
      d: Int): Column =
    graft.functions.GraftFunctions.argmaxDot(
      slice(col("fxd"), mi * d + 1, d),
      typedLit(cents.map(_._2.toSeq)),
      typedLit(cents.map { case (_, c) => 0.5 * VecOps.normSq(c) }),
      typedLit(cents.map(_._1))).getField("cluster")

  /** All `m` subspace codebooks of lifted training frame `trainE`,
    * trained from the same rows with [[Clustering]]'s arithmetic per
    * subspace — same seeds (the k lowest-id vectors' subvectors), same
    * argmax, same long sums, same driver division — so books are
    * bit-identical in both regimes:
    *  - `rows` present (`trainE`'s [[Clustering.collectBounded]]
    *    result, at most [[Clustering.MaxCentroidCells]] cells): every
    *    subspace's rounds run in driver memory ([[Clustering.lloyd]]),
    *    so training is that one collect whatever `rounds` is;
    *  - `rows` absent: [[distributedBooks]], one job per round for all
    *    m subspaces.
    * The centroid state is ≤ m·k·d = k·dim cells — exactly ONE
    * full-dim k-means' [[Clustering.MaxCentroidCells]] contract. */
  private[pipeline] def trainBooks(trainE: DataFrame,
      rows: Option[Array[Clustering.LiftedRow]], m: Int, k: Int, rounds: Int,
      d: Int): Seq[Seq[(Long, Array[Double])]] = {
    require(k >= 1 && rounds >= 1, "k and rounds must be positive")
    require(k.toLong * d * m <= Clustering.MaxCentroidCells,
      s"k×dim = ${k.toLong * d * m} exceeds the O(k×dim) driver-metadata " +
        s"contract (${Clustering.MaxCentroidCells} cells) — see " +
        "Clustering.MaxCentroidCells")
    rows.fold(distributedBooks(trainE, m, k, rounds, d)) { rs =>
      rs.foreach(r => require(r.fx == null || r.fx.length == m * d,
        s"PQ dimension mismatch: vector ${r.id} has ${r.fx.length} " +
          s"components, m×d = ${m * d}"))
      (0 until m).map(mi => Clustering.lloyd(rs, k, rounds, mi * d, d))
    }
  }

  /** The distributed regime of [[trainBooks]]: per Lloyd's round ONE
    * job computes every subspace's assignment (m `argmax_dot` columns
    * in one projection) and every subspace's exact per-(cluster, pos)
    * integer sums (one (mi, cluster, pos)-keyed aggregate, collected
    * once) — 2·m jobs per round → 1 (the r21 bench measured the PQ
    * family dominated by those round trips, not by data). */
  private[pipeline] def distributedBooks(trainE: DataFrame, m: Int, k: Int,
      rounds: Int, d: Int): Seq[Seq[(Long, Array[Double])]] = {
    val seedRows = trainE.orderBy("vec_id").limit(k).select("fxd").collect()
    require(seedRows.forall(!_.isNullAt(0)), "a k-means seed has a null embedding")
    var books: Seq[Seq[(Long, Array[Double])]] = (0 until m).map { mi =>
      seedRows.zipWithIndex.map { case (r, i) =>
        (i.toLong, r.getSeq[Double](0).slice(mi * d, mi * d + d).toArray)
      }.toSeq
    }
    for (_ <- 2 to rounds) {
      val rows = trainE
        .select(codesColumn(books, d).as("cs"), posexplode(col("fx")).as(Seq("pos", "v")))
        .select((col("pos") / d).cast("int").as("mi"),
          element_at(col("cs"), (col("pos") / d).cast("int") + 1).as("cluster"),
          (col("pos") % d).as("pos"), col("v"))
        .groupBy("mi", "cluster", "pos")
        .agg(coalesce(sum("v"), lit(0L)).as("s"), count(lit(1)).as("n"))
        .collect()
      val byMi = rows.groupBy(_.getInt(0))
      books = (0 until m).map { mi =>
        byMi.getOrElse(mi, Array.empty[org.apache.spark.sql.Row]).toSeq
          .groupBy(_.getLong(1)).toSeq.sortBy(_._1).map { case (cid, rs) =>
            val c = new Array[Double](d)
            rs.foreach { r =>
              c(r.getInt(2)) = r.getLong(3).toDouble / r.getLong(4).toDouble
            }
            (cid, c)
          }
      }
    }
    books
  }

  /** [[encode]] under SAMPLE-TRAINED codebooks (VERDICT r14 #2): the
    * training passes touch `sampleFrac` of the corpus, the encode pass
    * is the same m zero-shuffle full-corpus scans. Bit-equal to
    * [[encode]] at `sampleFrac ≥ 1` (ProductQuantSpec pins it, along
    * with retrieval recall under sampled vs full training). */
  def encodeSampled(corpus: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, rounds: Int, dim: Int, sampleFrac: Double): DataFrame =
    encodeWithBooks(corpus, idCol, embCol, m, k, rounds, dim, sampleFrac)._1
      .orderBy("vec_id", "m")

  /** One m-long code array per vector, ascending-subspace order, plus
    * the codebooks. The array assembles IN the encode projection (one
    * zero-shuffle scan — it used to posexplode per subspace and pay a
    * corpus shuffle re-grouping rows back into arrays). Materialized:
    * every query branch re-consumes it, and without the barrier each
    * branch would re-run the assignment scan. */
  private[pipeline] def codeArrays(corpus: DataFrame, idCol: String, embCol: String,
      m: Int, k: Int, rounds: Int, dim: Int, sampleFrac: Double = 1.0)
      : (DataFrame, Seq[Seq[(Long, Array[Double])]]) = {
    val (e, books, codesCol) =
      trained(corpus, idCol, embCol, m, k, rounds, dim, sampleFrac)
    val codes = graft.ops.Materialize.barrier(
      e.select(col("vec_id"), codesCol.as("codes")))
    (codes, books)
  }

  /** Flat LUT for one query, lut[mi·k + j] = ⟨q_mi, centroid_{mi,j}⟩ —
    * positions of empty (dropped) clusters stay 0.0 and are never
    * referenced, since no vector is assigned to a dropped cluster. */
  private def lutFor(fxd: Array[Double], books: Seq[Seq[(Long, Array[Double])]],
      m: Int, k: Int, d: Int): Array[Double] = {
    val flat = new Array[Double](m * k)
    for (mi <- 0 until m; (cid, c) <- books(mi)) {
      val qSub = java.util.Arrays.copyOfRange(fxd, mi * d, mi * d + d)
      flat(mi * k + cid.toInt) = VecOps.dot(qSub, c)
    }
    flat
  }

  /** The one-pass batched ADC scorer all three retrieval forms share
    * (VERDICT r16 #1): the ≤1000-row (qid, lut) query relation rides
    * as a BROADCAST local relation onto a SINGLE scan of the codes
    * frame — [[Similarity.batchTopK]]'s shape — instead of a per-query
    * `unionAll` of |Q| corpus scans. [[adcScore]]'s ascending-`mi` fold
    * reads the LUT as a COLUMN instead of a literal (same lookups, same
    * addition order), so scores are bit-identical to the per-query
    * form. Exposed `private[graft]` so PlanAuditSpec can pin one codes
    * scan and zero unions — the heap prune downstream severs lineage. */
  private[graft] def adcScores(codes: DataFrame,
      luts: Seq[(Long, Seq[Double])], m: Int, k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    require(luts.nonEmpty && luts.size <= 1000,
      s"query batch of ${luts.size} exceeds the broadcast contract")
    val q = luts.sortBy(_._1).toDF("qid", "lut")
    codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), adcScore(col("lut"), m, k).as("cos"))
  }

  /** ADC top-`topK` retrieval: (qid, vec_id, score, rn) per query id,
    * score = the PQ-approximated lifted-domain dot product, ranked
    * score-desc / vec_id-asc, self excluded. Query batch is bounded
    * (the [[Similarity.batchTopK]] broadcast contract) and the WHOLE
    * batch scores in one codes scan ([[adcScores]]). */
  def adcTopK(corpus: DataFrame, idCol: String, embCol: String,
      queryIds: Seq[Long], m: Int, k: Int, rounds: Int, dim: Int,
      topK: Int, sampleFrac: Double = 1.0): DataFrame =
    // topKPerQid is positional+named on (qid, vec_id, cos) — the score
    // rides its cos slot through the heap prune, renamed on the way out.
    Similarity.topKPerQid(
      adcScored(corpus, idCol, embCol, queryIds, m, k, rounds, dim,
        sampleFrac), topK)
      .select(col("qid"), col("vec_id"), col("cos").as("score"), col("rn"))
      .orderBy("qid", "vec_id")

  /** The pre-ranking candidate scores of [[adcTopK]] — the audit seam
    * (the [[Clustering.ivfScored]] convention): ProductQuantSpec pins
    * one codes scan and zero unions here, because the heap prune's RDD
    * boundary hides this subtree from the final plan. */
  private[graft] def adcScored(corpus: DataFrame, idCol: String,
      embCol: String, queryIds: Seq[Long], m: Int, k: Int, rounds: Int,
      dim: Int, sampleFrac: Double = 1.0): DataFrame = {
    require(queryIds.nonEmpty && queryIds.size <= 1000,
      s"query batch of ${queryIds.size} exceeds the broadcast contract")
    val (codes, books) =
      codeArrays(corpus, idCol, embCol, m, k, rounds, dim, sampleFrac)
    val e = Clustering.lifted(corpus, idCol, embCol)
    val d = dim / m
    val qRows = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("fxd")).collect()
    val luts = qRows.map(r => (r.getLong(0),
      lutFor(r.getSeq[Double](1).toArray, books, m, k, d).toSeq)).toSeq
    adcScores(codes, luts, m, k)
  }

  /** Composed IVF-PQ retrieval — the production ANN decomposition
    * (IVFADC, Jégou et al. §5 without the residual refinement: codes
    * quantize RAW vectors, which keeps one shared codebook oracle-
    * replayable; the residual variant changes the encode input, not the
    * plan shape): a coarse k-means blocks the corpus into `kCoarse`
    * cells (q50's quantizer), PQ compresses every vector to `m` codes
    * (q80), and a query ADC-scores ONLY its `nprobe` best cells' codes —
    * the scan cut and the byte cut composed, so per-query work is
    * (nprobe/kCoarse) × corpus CODE rows, no vector math, no full scan.
    *
    * Returns (qid, vec_id, score, rn), score-desc / id-asc, self
    * excluded; probe-cell selection runs on the driver against the
    * collected coarse centroids with the exact oracle arithmetic (the
    * [[Clustering.ivfTopK]] discipline). */
  def ivfAdcTopK(corpus: DataFrame, idCol: String, embCol: String,
      queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int, m: Int, k: Int,
      pqRounds: Int, dim: Int, nprobe: Int, topK: Int): DataFrame =
    Similarity.topKPerQid(
      ivfAdcScored(corpus, idCol, embCol, queryIds, kCoarse, coarseRounds,
        m, k, pqRounds, dim, nprobe), topK)
      .select(col("qid"), col("vec_id"), col("cos").as("score"), col("rn"))
      .orderBy("qid", "vec_id")

  /** The pre-ranking candidate scores of [[ivfAdcTopK]] — the audit
    * seam ([[adcScored]]'s convention for the cell-gated form). */
  private[graft] def ivfAdcScored(corpus: DataFrame, idCol: String,
      embCol: String, queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int,
      m: Int, k: Int, pqRounds: Int, dim: Int, nprobe: Int): DataFrame =
    ivfAdcScoredWithQueries(corpus, idCol, embCol, queryIds, kCoarse,
      coarseRounds, m, k, pqRounds, dim, nprobe)._1

  /** [[ivfAdcScored]] plus the (qid, fxd) query vectors it read, so
    * the re-ranker reuses them instead of reading them again. The
    * coarse quantizer and the codebooks both train on the lifted
    * corpus, so in the driver regime the coarse rows, the PQ rows and
    * the query vectors all come from ONE [[Clustering.collectBounded]]
    * collect. */
  private def ivfAdcScoredWithQueries(corpus: DataFrame, idCol: String,
      embCol: String, queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int,
      m: Int, k: Int, pqRounds: Int, dim: Int,
      nprobe: Int): (DataFrame, Seq[(Long, Array[Double])]) = {
    require(nprobe >= 1 && nprobe <= kCoarse,
      s"nprobe must be in [1, $kCoarse]: $nprobe")
    require(queryIds.nonEmpty && queryIds.size <= 1000,
      s"query batch of ${queryIds.size} exceeds the broadcast contract")
    val (e, rows, coarse, books) = ivfPqTrained(corpus, idCol, embCol,
      kCoarse, coarseRounds, m, k, pqRounds, dim)
    val qRows = Clustering.queryVectors(e, rows, queryIds)
    val d = dim / m
    // (vec_id, cell, codes) — the slim retrieval table every query
    // branch filters; at deployment this is the persisted index.
    val base = graft.ops.Materialize.barrier(cellCodes(e, coarse, books, d))
    val halfNorms = coarse.map { case (cid, c) => (cid, 0.5 * VecOps.normSq(c)) }
    val (probes, luts) = qRows.map { case (qid, fxd) =>
      val cells = coarse.zip(halfNorms).map { case ((cid, c), (_, hn)) =>
        (cid, VecOps.dot(fxd, c) - hn)
      }.sortBy { case (cid, s) => (-s, cid) }.take(nprobe).map(_._1)
      (cells.map(c => (qid, c)),
        (qid, lutFor(fxd, books, m, k, d).toSeq))
    }.unzip match { case (ps, ls) => (ps.flatten, ls) }
    (ivfAdcScores(base, probes, luts, m, k), qRows)
  }

  /** The lifted corpus, its [[Clustering.collectBounded]] rows, and
    * the coarse centroids and PQ codebooks both trained on it — from
    * that one collect in the driver regime, by the distributed rounds
    * past it. */
  private[pipeline] def ivfPqTrained(corpus: DataFrame, idCol: String,
      embCol: String, kCoarse: Int, coarseRounds: Int, m: Int, k: Int,
      pqRounds: Int, dim: Int): (DataFrame, Option[Array[Clustering.LiftedRow]],
        Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    require(m >= 1 && dim % m == 0,
      s"dim=$dim must split evenly into m=$m subspaces")
    val e = Clustering.lifted(corpus, idCol, embCol)
    val rows = Clustering.collectBounded(e)
    (e, rows, Clustering.centroids(e, rows, kCoarse, coarseRounds),
      trainBooks(e, rows, m, k, pqRounds, dim / m))
  }

  /** (vec_id, cell, codes): each vector's coarse cell and its m PQ
    * codes, in one zero-shuffle projection of the lifted corpus. */
  private[pipeline] def cellCodes(e: DataFrame, coarse: Seq[(Long, Array[Double])],
      books: Seq[Seq[(Long, Array[Double])]], d: Int): DataFrame =
    Clustering.withCluster(encodable(e, books), coarse)
      .select(col("vec_id"), col("cluster").as("cell"),
        codesColumn(books, d).as("codes"))

  /** The cell-gated batched ADC scorer the IVF forms share: the
    * (qid, cell) probe pairs and (qid, lut) tables both BROADCAST onto
    * ONE scan of the (vec_id, cell, codes) index frame, statically
    * pre-filtered to the union of every query's probed cells (a
    * literal `isin`, so a cell-partitioned stored index directory-
    * prunes before the join). Per (qid, vec_id) the arithmetic is the
    * per-query form's exactly, so scores are bit-identical; the probe
    * join is an equi-join on `cell` (BroadcastHashJoin — never a
    * nested loop over the corpus). */
  private[graft] def ivfAdcScores(base: DataFrame, probes: Seq[(Long, Long)],
      luts: Seq[(Long, Seq[Double])], m: Int, k: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    require(luts.nonEmpty && luts.size <= 1000,
      s"query batch of ${luts.size} exceeds the broadcast contract")
    val allCells = probes.map(_._2).distinct.sorted
    val probeDf = probes.sorted.toDF("qid", "cell")
    val lutDf = luts.sortBy(_._1).toDF("qid", "lut")
    base.filter(col("cell").isin(allCells: _*))
      .join(broadcast(probeDf), Seq("cell"))
      .join(broadcast(lutDf), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"), adcScore(col("lut"), m, k).as("cos"))
  }

  /** Two-stage refined retrieval — the IVFADC+R decomposition (Jégou
    * et al. §5.3's re-ranking step, minus the residual codebooks): the
    * composed IVF-PQ shortlists the ADC-best `shortlist` candidates per
    * query (the bytes-cut scan of [[ivfAdcTopK]]), then ONE exact
    * gather re-scores just those candidates with the full lifted dot
    * and re-ranks to `topK` — ADC's quantization error decides only WHO
    * makes the shortlist, never the final order.
    *
    * Scale shape: the shortlist frame is ≤ |Q|·shortlist rows BY
    * CONTRACT (it exits [[Similarity.topKPerQid]]'s bounded heap), so
    * it broadcasts onto one corpus scan that gathers the candidates'
    * vectors — the exact-math pass touches |Q|·shortlist rows, not the
    * corpus, which is the whole point of refining AFTER the ADC cut.
    * The query vectors ride as a ≤1000-row local relation (the batch
    * contract), so the rescore join has no fact-table lineage on its
    * small sides.
    *
    * Within-shortlist exactness: rerank keeps the exact-best `topK` of
    * the shortlist, so its hit count against the true top-`topK` is
    * ≥ plain ADC's for the same shortlist (|exact ∩ shortlist| ≥
    * |exact ∩ adcTopK| — RerankSpec measures it). With every cell
    * probed and `shortlist` ≥ corpus−1 it IS the exact retrieval
    * (RerankSpec pins bit-equality). */
  def ivfAdcRerankTopK(corpus: DataFrame, idCol: String, embCol: String,
      queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int, m: Int, k: Int,
      pqRounds: Int, dim: Int, nprobe: Int, shortlist: Int,
      topK: Int): DataFrame = {
    require(topK >= 1 && topK <= shortlist,
      s"topK must be in [1, shortlist=$shortlist]: $topK")
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val (scored, qRows) = ivfAdcScoredWithQueries(corpus, idCol, embCol,
      queryIds, kCoarse, coarseRounds, m, k, pqRounds, dim, nprobe)
    val ann = Similarity.topKPerQid(scored, shortlist)
    val e = Clustering.lifted(corpus, idCol, embCol)
    // Query vectors land as a local relation: ≤1000 rows by the batch
    // contract, and a derived plan would put the corpus subtree on both
    // sides of the rescore join (the SaltedJoin.autoJoin reasoning).
    // They are the ones the ADC pass read — no second read.
    val qLocal = qRows.map { case (qid, fxd) => (qid, fxd.toSeq) }
      .toDF("qid", "qfxd")
    val rescored = e
      .join(broadcast(ann.select(col("qid"), col("vec_id"))), "vec_id")
      .join(broadcast(qLocal), "qid")
      .select(col("qid"), col("vec_id"),
        call_function("vec_dot", col("fxd"), col("qfxd")).as("cos"))
    Similarity.topKPerQid(rescored, topK)
      .select(col("qid"), col("vec_id"), col("cos").as("score"), col("rn"))
      .orderBy("qid", "vec_id")
  }

  // ------------------------------------------------------- residual form

  /** The residual corpus (vec_id, emb): each vector minus its coarse
    * centroid, RE-QUANTIZED to the fixed-point grid (floor(Δ + 0.5) in
    * the lifted domain) and expressed back in the unlifted domain
    * (÷ [[Clustering.Scale]], exact — dyadic over integer values), so
    * the standard lift re-derives exactly these integers and the whole
    * PQ machinery (training, encode, oracle chains) applies verbatim.
    * One broadcast join against the ≤ kCoarse centroid rows — no new
    * corpus-side shuffle. */
  private[pipeline] def residualCorpus(assigned: DataFrame,
      coarse: Seq[(Long, Array[Double])]): DataFrame = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val cents = coarse.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "c")
    assigned.join(broadcast(cents), col("cluster") === col("cid"))
      .select(col("vec_id"),
        expr("transform(zip_with(fxd, c, (a, b) -> floor(a - b + 0.5D)), " +
          s"v -> v / ${Clustering.Scale}D)").as("emb"))
  }

  /** Residual IVF-PQ retrieval — IVFADC WITH the residual encoding
    * (Jégou et al. §5.1.2: PQ quantizes `vec − coarse_centroid`, not the
    * raw vector): residuals concentrate around the origin per subspace,
    * so the same m·k codebook budget spends its resolution on the part
    * of the vector the coarse quantizer did NOT explain — the
    * public-knowledge lever that buys recall at the same m (q175's
    * staleness meter showed raw-vector IVF-PQ recall 0.2–0.3 on stale
    * fixtures; ResidualPqSpec measures the gain here). Score =
    * ⟨q, c_cell⟩ + Σ_mi LUT[mi][code] — the exact expansion of
    * ⟨q, c_cell + r̂⟩, so the only new arithmetic is one per-(q, cell)
    * driver dot added ahead of the same ascending-`mi` fold.
    *
    * Scale shape unchanged from [[ivfAdcTopK]]: the per-(qid, cell)
    * cdot rides INSIDE the broadcast probe relation (≤ |Q|·nprobe
    * rows), so the corpus-side scan still touches only code arrays —
    * no vector math, no new shuffle. Degeneracy: at nprobe = kCoarse
    * every vector is a candidate and the retrieval ranks the full
    * corpus by the residual-ADC score (ResidualPqSpec pins it against
    * an independent driver-side recomputation). */
  def residualIvfAdcTopK(corpus: DataFrame, idCol: String, embCol: String,
      queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int, m: Int, k: Int,
      pqRounds: Int, dim: Int, nprobe: Int, topK: Int): DataFrame =
    Similarity.topKPerQid(
      residualIvfAdcScored(corpus, idCol, embCol, queryIds, kCoarse,
        coarseRounds, m, k, pqRounds, dim, nprobe), topK)
      .select(col("qid"), col("vec_id"), col("cos").as("score"), col("rn"))
      .orderBy("qid", "vec_id")

  /** The pre-ranking candidate scores of [[residualIvfAdcTopK]] — the
    * audit seam ([[ivfAdcScored]]'s convention). */
  private[graft] def residualIvfAdcScored(corpus: DataFrame, idCol: String,
      embCol: String, queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int,
      m: Int, k: Int, pqRounds: Int, dim: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= kCoarse,
      s"nprobe must be in [1, $kCoarse]: $nprobe")
    require(queryIds.nonEmpty && queryIds.size <= 1000,
      s"query batch of ${queryIds.size} exceeds the broadcast contract")
    val e = Clustering.lifted(corpus, idCol, embCol)
    // The coarse rows are the query rows: one collect in the driver
    // regime (the residual rows are a second frame, a second collect).
    val rows = Clustering.collectBounded(e)
    val coarse = Clustering.centroids(e, rows, kCoarse, coarseRounds)
    val assigned = Clustering.withCluster(e, coarse)
    val (codes, books) = codeArrays(residualCorpus(assigned, coarse),
      "vec_id", "emb", m, k, pqRounds, dim)
    val base = graft.ops.Materialize.barrier(
      assigned.select(col("vec_id"), col("cluster").as("cell"))
        .join(codes, "vec_id"))
    val d = dim / m
    val qRows = Clustering.queryVectors(e, rows, queryIds)
    val halfNorms = coarse.map { case (cid, c) => (cid, c, 0.5 * VecOps.normSq(c)) }
    val (probes, luts) = qRows.map { case (qid, fxd) =>
      val cells = halfNorms.map { case (cid, c, hn) =>
        (cid, VecOps.dot(fxd, c) - hn)
      }.sortBy { case (cid, s) => (-s, cid) }.take(nprobe).map(_._1)
      // cdot = ⟨q, c_cell⟩ — the residual expansion's cell term, exact
      // driver arithmetic like the LUT's (the oracle replays the fold).
      val coarseByCid = coarse.toMap
      (cells.map(c => (qid, c, VecOps.dot(fxd, coarseByCid(c)))),
        (qid, lutFor(fxd, books, m, k, d).toSeq))
    }.unzip match { case (ps, ls) => (ps.flatten, ls) }
    residualIvfAdcScores(base, probes, luts, m, k)
  }

  /** [[ivfAdcScores]] with the per-(qid, cell) cell-dot term riding in
    * the broadcast probe relation: score = cdot + the ascending-`mi`
    * LUT fold (addition order = the oracle's `cdot + list_reduce`). */
  private[graft] def residualIvfAdcScores(base: DataFrame,
      probes: Seq[(Long, Long, Double)], luts: Seq[(Long, Seq[Double])],
      m: Int, k: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    require(luts.nonEmpty && luts.size <= 1000,
      s"query batch of ${luts.size} exceeds the broadcast contract")
    val allCells = probes.map(_._2).distinct.sorted
    val probeDf = probes.sortBy(p => (p._1, p._2)).toDF("qid", "cell", "cdot")
    val lutDf = luts.sortBy(_._1).toDF("qid", "lut")
    base.filter(col("cell").isin(allCells: _*))
      .join(broadcast(probeDf), Seq("cell"))
      .join(broadcast(lutDf), Seq("qid"))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        (col("cdot") + adcScore(col("lut"), m, k)).as("cos"))
  }

  /** IVF-PQ retrieval against a STORED index sidecar
    * ([[CorpusWriter.writeIvfPqIndex]] + landings) — the deployment form
    * of [[ivfAdcTopK]] and the artifact a 100 TB ANN store actually
    * persists: `m` CODE BYTES per vector instead of `8·dim` vector
    * bytes (64 dim × 8 B → 8 B here, a 64× byte cut on the member
    * table), with the coarse centroids and PQ codebooks as slim
    * sidecars. Probes collect both codebooks (≤ kCoarse + m·k rows),
    * select cells and build LUTs driver-side with the exact
    * [[ivfAdcTopK]] arithmetic, and ADC-score only the probed cells'
    * code rows — partition-pruned directories, no vector math, no
    * corpus re-read, bit-equal to the in-session path under the same
    * training corpus (LandedIvfPqSpec pins it). */
  def ivfAdcTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, idCol: String, embCol: String,
      nprobe: Int, topK: Int): DataFrame =
    Similarity.topKPerQid(
      ivfAdcScoredFromIndex(spark, table, queries, idCol, embCol, nprobe),
      topK)
      .select(col("qid"), col("vec_id"), col("cos").as("score"), col("rn"))
      .orderBy("qid", "vec_id")

  /** The pre-ranking candidate scores of [[ivfAdcTopKFromIndex]] — the
    * audit seam for the stored-index path (one directory-pruned parquet
    * scan of the member table for the whole batch). */
  private[graft] def ivfAdcScoredFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, idCol: String, embCol: String,
      nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val meta = spark.table(s"${table}_meta").collect()
    require(meta.length == 1, s"malformed IVF-PQ meta: ${meta.length} rows")
    val mr = meta(0)
    require(CorpusWriter.pqEncoding(mr) == "raw",
      s"index $table stores ${CorpusWriter.pqEncoding(mr)}-encoded codes; " +
        "probe it with residualIvfAdcTopKFromIndex")
    val kCoarse = mr.getAs[Int]("k_coarse")
    val m = mr.getAs[Int]("m")
    val k = mr.getAs[Int]("k")
    val dim = mr.getAs[Int]("dim")
    require(nprobe >= 1 && nprobe <= kCoarse,
      s"nprobe must be in [1, $kCoarse]: $nprobe")
    val (coarse, books) = readPqSidecars(spark, table, m, dim)
    val d = dim / m
    val qRows = queries
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .collect()
    require(qRows.nonEmpty && qRows.length <= 1000,
      s"query batch of ${qRows.length} exceeds the broadcast contract")
    val halfNorms = coarse.map { case (cid, c) => (cid, c, 0.5 * VecOps.normSq(c)) }
    // Standing tombstones (un-applied deletes) are un-servable NOW —
    // the LSM delete discipline (CorpusWriter.appendTombstones).
    val base = CorpusWriter.withoutTombstones(spark, table,
      spark.table(table))
    val (probes, luts) = qRows.map { r =>
      val qid = r.getLong(0)
      val fxd = r.getSeq[Double](1).toArray
        .map(v => math.floor(v * Clustering.Scale + 0.5))
      val cells = halfNorms.map { case (cid, c, hn) =>
        (cid, VecOps.dot(fxd, c) - hn)
      }.sortBy { case (cid, s) => (-s, cid) }.take(nprobe).map(_._1)
      (cells.map(c => (qid, c)),
        (qid, lutFor(fxd, books, m, k, d).toSeq))
    }.unzip match { case (ps, ls) => (ps.flatten.toSeq, ls.toSeq) }
    ivfAdcScores(base, probes, luts, m, k)
  }

  /** [[residualIvfAdcTopK]] against a STORED index sidecar
    * ([[CorpusWriter.writeResidualIvfPqIndex]] + landings) — the
    * deployment form of the residual decomposition: the member table
    * carries RESIDUAL codes (meta `enc = residual`, `require`d here so
    * a raw index can never serve the wrong arithmetic), and the probe
    * adds the per-(query, cell) coarse dot ahead of the same LUT fold.
    * Partition-pruned directories, tombstone-aware, bit-equal to the
    * in-session path under the same training corpus (LandedIvfPqSpec
    * pins it). */
  def residualIvfAdcTopKFromIndex(spark: org.apache.spark.sql.SparkSession,
      table: String, queries: DataFrame, idCol: String, embCol: String,
      nprobe: Int, topK: Int): DataFrame =
    Similarity.topKPerQid(
      residualIvfAdcScoredFromIndex(spark, table, queries, idCol, embCol,
        nprobe), topK)
      .select(col("qid"), col("vec_id"), col("cos").as("score"), col("rn"))
      .orderBy("qid", "vec_id")

  private[graft] def residualIvfAdcScoredFromIndex(
      spark: org.apache.spark.sql.SparkSession, table: String,
      queries: DataFrame, idCol: String, embCol: String,
      nprobe: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val meta = spark.table(s"${table}_meta").collect()
    require(meta.length == 1, s"malformed IVF-PQ meta: ${meta.length} rows")
    val mr = meta(0)
    require(CorpusWriter.pqEncoding(mr) == "residual",
      s"index $table stores ${CorpusWriter.pqEncoding(mr)}-encoded codes; " +
        "probe it with ivfAdcTopKFromIndex")
    val kCoarse = mr.getAs[Int]("k_coarse")
    val m = mr.getAs[Int]("m")
    val k = mr.getAs[Int]("k")
    val dim = mr.getAs[Int]("dim")
    require(nprobe >= 1 && nprobe <= kCoarse,
      s"nprobe must be in [1, $kCoarse]: $nprobe")
    val (coarse, books) = readPqSidecars(spark, table, m, dim)
    val d = dim / m
    val qRows = queries
      .select(col(idCol).cast("long"), col(embCol).cast("array<double>"))
      .collect()
    require(qRows.nonEmpty && qRows.length <= 1000,
      s"query batch of ${qRows.length} exceeds the broadcast contract")
    val halfNorms = coarse.map { case (cid, c) => (cid, c, 0.5 * VecOps.normSq(c)) }
    val coarseByCid = coarse.toMap
    val base = CorpusWriter.withoutTombstones(spark, table,
      spark.table(table))
    val (probes, luts) = qRows.map { r =>
      val qid = r.getLong(0)
      val fxd = r.getSeq[Double](1).toArray
        .map(v => math.floor(v * Clustering.Scale + 0.5))
      val cells = halfNorms.map { case (cid, c, hn) =>
        (cid, VecOps.dot(fxd, c) - hn)
      }.sortBy { case (cid, sc) => (-sc, cid) }.take(nprobe).map(_._1)
      (cells.map(c => (qid, c, VecOps.dot(fxd, coarseByCid(c)))),
        (qid, lutFor(fxd, books, m, k, d).toSeq))
    }.unzip match { case (ps, ls) => (ps.flatten.toSeq, ls.toSeq) }
    residualIvfAdcScores(base, probes, luts, m, k)
  }

  /** Collect a stored index's coarse centroids and per-subspace PQ
    * codebooks (≤ kCoarse + m·k slim rows — exact doubles through
    * parquet, so stored probes/landings are bit-equal to in-session
    * ones). Shared by the probe and the landing. */
  private[pipeline] def readPqSidecars(spark: org.apache.spark.sql.SparkSession,
      table: String, m: Int, dim: Int)
      : (Seq[(Long, Array[Double])], Seq[Seq[(Long, Array[Double])]]) = {
    val coarse = spark.table(s"${table}_coarse").collect()
      .map(x => (x.getLong(0), x.getSeq[Double](1).toArray))
      .sortBy(_._1).toSeq
    require(coarse.forall(_._2.length == dim),
      s"IVF-PQ coarse centroid dim mismatch against meta dim=$dim")
    val bookRows = spark.table(s"${table}_books").collect()
      .map(x => (x.getInt(0), x.getLong(1), x.getSeq[Double](2).toArray))
    val books = (0 until m).map(mi =>
      bookRows.filter(_._1 == mi).map(x => (x._2, x._3)).sortBy(_._1).toSeq)
    require(books.forall(_.nonEmpty),
      s"IVF-PQ codebook sidecar $table is missing subspaces")
    (coarse, books)
  }

  /** Σ_{mi=0}^{m-1} lut[mi·k + codes[mi]] as an ascending-`mi` HOF fold
    * — the exact addition order of the oracle's `list_reduce`. */
  private def adcScore(lut: Column, m: Int, k: Int): Column =
    aggregate(sequence(lit(0), lit(m - 1)), lit(0.0),
      (acc, mi) => acc + element_at(lut,
        (mi * lit(k) + element_at(col("codes"), mi + lit(1)).cast("int") +
          lit(1)).cast("int")))

  /** The sliced oracle corpus for subspace `mi` (1-based list slice of
    * the double-lifted embedding). */
  private def sliceSql(mi: Int, d: Int): String = {
    val lo = mi * d + 1
    val hi = lo + d - 1
    "(SELECT vec_id, (list_transform(embedding, x -> x::DOUBLE))" +
      s"[$lo:$hi] AS emb FROM embeddings)"
  }

  /** One prefixed k-means CTE chain per subspace, merged under a single
    * WITH. */
  private def chainsSql(m: Int, k: Int, rounds: Int, d: Int): String = {
    val chains = (0 until m).map { mi =>
      Clustering.kmeansCtes(k, rounds, d, sliceSql(mi, d), s"m${mi}_")
        .stripPrefix("WITH ")
    }
    "WITH " + chains.mkString(",\n")
  }

  private def codesSql(m: Int, rounds: Int): String =
    (0 until m).map { mi =>
      s"SELECT vec_id, CAST($mi AS INTEGER) AS m, cluster AS code FROM m${mi}_a$rounds"
    }.mkString("\n  UNION ALL ")

  /** DuckDB oracle for [[encode]] over table `embeddings`. */
  def encodeOracleSql(m: Int, k: Int, rounds: Int, dim: Int): String =
    s"""${chainsSql(m, k, rounds, dim / m)},
       |codes AS (${codesSql(m, rounds)})
       |SELECT vec_id, m, code FROM codes ORDER BY vec_id, m""".stripMargin

  /** The sampled oracle corpus for subspace `mi`: [[sliceSql]] under
    * the md5 training gate. */
  private def sampledSliceSql(mi: Int, d: Int, sampleFrac: Double): String = {
    val lo = mi * d + 1
    val hi = lo + d - 1
    "(SELECT vec_id, (list_transform(embedding, x -> x::DOUBLE))" +
      s"[$lo:$hi] AS emb FROM embeddings " +
      s"WHERE ${Clustering.sampleGateSql(sampleFrac)})"
  }

  /** DuckDB oracle for [[encodeSampled]]: one k-means chain per
    * subspace trained over the GATED slice (prefix `m$mi_`), then a
    * full-slice assignment per subspace against the final centroids
    * `m${mi}_c$rounds` — the [[Clustering.kmeansSampledOracleSql]]
    * shape unrolled m times. */
  def encodeSampledOracleSql(m: Int, k: Int, rounds: Int, dim: Int,
      sampleFrac: Double): String = {
    val d = dim / m
    val chains = (0 until m).map { mi =>
      Clustering.kmeansCtes(k, rounds, d, sampledSliceSql(mi, d, sampleFrac),
        s"m${mi}_").stripPrefix("WITH ")
    }
    val fullAssign = (0 until m).map { mi =>
      s"""f${mi}e AS (${Clustering.liftedSql(sliceSql(mi, d))}),
         |fa$mi AS (
         |  SELECT vec_id, CAST($mi AS INTEGER) AS m, cid AS code FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${Clustering.dotSql("e.fxd", "c.c", d)} - 0.5 * ${
               Clustering.dotSql("c.c", "c.c", d)} DESC, c.cid) AS rn
         |    FROM f${mi}e e CROSS JOIN m${mi}_c$rounds c)
         |  WHERE rn = 1)""".stripMargin
    }
    val union = (0 until m).map(mi => s"SELECT * FROM fa$mi")
      .mkString("\n  UNION ALL ")
    s"""WITH ${chains.mkString(",\n")},
       |${fullAssign.mkString(",\n")},
       |codes AS ($union)
       |SELECT vec_id, m, code FROM codes ORDER BY vec_id, m""".stripMargin
  }

  /** The shared ADC CTE block: `codes`, `q` (lifted query vectors),
    * `lut` (per-(query, subspace, code) partial dots). */
  private def adcCtes(queryIds: Seq[Long], m: Int, k: Int, rounds: Int,
      d: Int): String = {
    val lift = "list_transform(list_transform(embedding, x -> x::DOUBLE), " +
      s"v -> CAST(CAST(floor(v * ${Clustering.Scale} + 0.5) AS BIGINT) AS DOUBLE))"
    val booksSql = (0 until m).map { mi =>
      s"SELECT CAST($mi AS INTEGER) AS m, cid, c FROM m${mi}_c$rounds"
    }.mkString("\n  UNION ALL ")
    val qSubDot = (0 until m).map { mi =>
      val lo = mi * d + 1
      val hi = lo + d - 1
      s"WHEN cm.m = $mi THEN ${Clustering.dotSql(s"(q.fxd[$lo:$hi])", "cm.c", d)}"
    }.mkString("\n      ")
    s"""codes AS (${codesSql(m, rounds)}),
       |q AS (SELECT vec_id AS qid, $lift AS fxd FROM embeddings
       |  WHERE vec_id IN (${queryIds.mkString(", ")})),
       |lut AS (SELECT q.qid, cm.m, cm.cid,
       |    CASE $qSubDot END AS part
       |  FROM q CROSS JOIN ($booksSql) cm)""".stripMargin
  }

  private def rankTailSql(topK: Int): String =
    s"""SELECT qid, vec_id, score, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
       |  FROM scored)
       |WHERE rn <= $topK ORDER BY qid, vec_id""".stripMargin

  /** DuckDB oracle for [[adcTopK]] over table `embeddings`: replays the
    * per-subspace chains, builds the same LUT relationally, and sums
    * each (query, vector)'s m partial terms with an ordered list fold. */
  def adcOracleSql(queryIds: Seq[Long], m: Int, k: Int, rounds: Int,
      dim: Int, topK: Int): String = {
    val d = dim / m
    s"""${chainsSql(m, k, rounds, d)},
       |${adcCtes(queryIds, m, k, rounds, d)},
       |scored AS (SELECT lut.qid, c.vec_id,
       |    ${Clustering.fold("list(lut.part ORDER BY lut.m)")} AS score
       |  FROM codes c JOIN lut ON lut.m = c.m AND lut.cid = c.code
       |  WHERE c.vec_id <> lut.qid
       |  GROUP BY lut.qid, c.vec_id)
       |${rankTailSql(topK)}""".stripMargin
  }

  /** Everything through the `scored` CTE of the composed IVF-PQ
    * derivation (PQ chains, `cg_` coarse chain, ADC block, probe cells,
    * cell-restricted scoring) — shared by [[ivfAdcOracleSql]] and
    * [[recallOracleSql]]. */
  private def ivfAdcCtesSql(queryIds: Seq[Long], kCoarse: Int,
      coarseRounds: Int, m: Int, k: Int, pqRounds: Int, dim: Int,
      nprobe: Int): String = {
    val d = dim / m
    val coarseChain = Clustering.kmeansCtes(kCoarse, coarseRounds, dim,
      Clustering.EmbeddingsSql, "cg_").stripPrefix("WITH ")
    s"""${chainsSql(m, k, pqRounds, d)},
       |$coarseChain,
       |${adcCtes(queryIds, m, k, pqRounds, d)},
       |pc AS (SELECT qid, cid AS cell FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${Clustering.dotSql("q.fxd", "c.c", dim)} - 0.5 * ${
               Clustering.dotSql("c.c", "c.c", dim)} DESC, c.cid) AS prn
       |    FROM q CROSS JOIN cg_c$coarseRounds c)
       |  WHERE prn <= $nprobe),
       |scored AS (SELECT pc.qid, cj.vec_id,
       |    ${Clustering.fold("list(lut.part ORDER BY lut.m)")} AS score
       |  FROM pc
       |  JOIN cg_a$coarseRounds a ON a.cluster = pc.cell
       |  JOIN codes cj ON cj.vec_id = a.vec_id
       |  JOIN lut ON lut.qid = pc.qid AND lut.m = cj.m AND lut.cid = cj.code
       |  WHERE cj.vec_id <> pc.qid
       |  GROUP BY pc.qid, cj.vec_id)""".stripMargin
  }

  /** DuckDB oracle for [[ivfAdcTopK]]: the PQ chains plus one
    * `cg_`-prefixed coarse chain; probe cells by the coarse score
    * (desc, cid-asc ties), then the ADC scoring restricted to probed
    * cells' members. */
  def ivfAdcOracleSql(queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int,
      m: Int, k: Int, pqRounds: Int, dim: Int, nprobe: Int,
      topK: Int): String =
    s"""${ivfAdcCtesSql(queryIds, kCoarse, coarseRounds, m, k, pqRounds,
           dim, nprobe)}
       |${rankTailSql(topK)}""".stripMargin

  /** DuckDB oracle for [[residualIvfAdcTopK]]: the coarse chain first,
    * a `resid` CTE (per-vector residual, re-quantized and unlifted so
    * the per-subspace chains' own lift re-derives the exact integers),
    * PQ chains over residual slices, then the ADC block with the
    * per-(query, cell) coarse dot added ahead of the ordered fold. */
  def residualIvfAdcOracleSql(queryIds: Seq[Long], kCoarse: Int,
      coarseRounds: Int, m: Int, k: Int, pqRounds: Int, dim: Int,
      nprobe: Int, topK: Int): String = {
    val d = dim / m
    val coarseChain = Clustering.kmeansCtes(kCoarse, coarseRounds, dim,
      Clustering.EmbeddingsSql, "cg_").stripPrefix("WITH ")
    val residSql =
      s"""resid AS (SELECT e.vec_id,
         |    list_transform(range(1, ${dim + 1}),
         |      __i -> floor(e.fxd[__i] - c.c[__i] + 0.5) / ${Clustering.Scale}) AS emb
         |  FROM cg_e e
         |  JOIN cg_a$coarseRounds a USING (vec_id)
         |  JOIN cg_c$coarseRounds c ON c.cid = a.cluster)""".stripMargin
    def residSlice(mi: Int): String = {
      val lo = mi * d + 1
      s"(SELECT vec_id, (emb)[$lo:${lo + d - 1}] AS emb FROM resid)"
    }
    val chains = (0 until m).map(mi =>
      Clustering.kmeansCtes(k, pqRounds, d, residSlice(mi), s"m${mi}_")
        .stripPrefix("WITH "))
    s"""WITH $coarseChain,
       |$residSql,
       |${chains.mkString(",\n")},
       |${adcCtes(queryIds, m, k, pqRounds, d)},
       |pcd AS (SELECT qid, cid AS cell, cdot FROM (
       |    SELECT q.qid, c.cid,
       |      ${Clustering.dotSql("q.fxd", "c.c", dim)} AS cdot,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${Clustering.dotSql("q.fxd", "c.c", dim)} - 0.5 * ${
             Clustering.dotSql("c.c", "c.c", dim)} DESC, c.cid) AS prn
       |    FROM q CROSS JOIN cg_c$coarseRounds c)
       |  WHERE prn <= $nprobe),
       |scored AS (SELECT pcd.qid, cj.vec_id,
       |    max(pcd.cdot) + ${Clustering.fold("list(lut.part ORDER BY lut.m)")} AS score
       |  FROM pcd
       |  JOIN cg_a$coarseRounds a ON a.cluster = pcd.cell
       |  JOIN codes cj ON cj.vec_id = a.vec_id
       |  JOIN lut ON lut.qid = pcd.qid AND lut.m = cj.m AND lut.cid = cj.code
       |  WHERE cj.vec_id <> pcd.qid
       |  GROUP BY pcd.qid, cj.vec_id)
       |${rankTailSql(topK)}""".stripMargin
  }

  /** ANN recall@k evaluation — the "measure, don't guess" op for tuning
    * `nprobe`/`m`/`k`: per query, how many of the EXACT top-`topK`
    * neighbors (by the full lifted-domain dot — exact integer values in
    * doubles, so the baseline itself is bit-deterministic) the composed
    * IVF-PQ retrieval recovered. Returns (qid, n_exact, n_hit, recall).
    *
    * Scale shape: the ANN side is [[ivfAdcTopK]]; the exact side is one
    * map-side literal-dot scan per query through the shared bounded-heap
    * top-k (the [[Similarity.batchTopK]] discipline) — the evaluation
    * runs on a bounded query SAMPLE by contract, so paying one exact
    * scan per sampled query is the point, not a scale hazard. */
  def annRecall(corpus: DataFrame, idCol: String, embCol: String,
      queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int, m: Int, k: Int,
      pqRounds: Int, dim: Int, nprobe: Int, topK: Int): DataFrame =
    recallAgainst(corpus, idCol, embCol, queryIds, topK,
      ivfAdcTopK(corpus, idCol, embCol, queryIds, kCoarse,
        coarseRounds, m, k, pqRounds, dim, nprobe, topK))

  /** [[annRecall]] with the ANN side answered by the RESIDUAL form —
    * the head-to-head meter ResidualPqSpec runs (residual ≥ raw on the
    * fixture is the r19 acceptance bar). */
  def annRecallResidual(corpus: DataFrame, idCol: String, embCol: String,
      queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int, m: Int, k: Int,
      pqRounds: Int, dim: Int, nprobe: Int, topK: Int): DataFrame =
    recallAgainst(corpus, idCol, embCol, queryIds, topK,
      residualIvfAdcTopK(corpus, idCol, embCol, queryIds, kCoarse,
        coarseRounds, m, k, pqRounds, dim, nprobe, topK))

  private def recallAgainst(corpus: DataFrame, idCol: String,
      embCol: String, queryIds: Seq[Long], topK: Int,
      ann: DataFrame): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val e = Clustering.lifted(corpus, idCol, embCol)
    val qRows = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("fxd")).collect()
    // The exact side batches like everything else (VERDICT r16 #1): the
    // ≤1000-row (qid, qfxd) relation broadcasts onto ONE lifted-corpus
    // scan; vec_dot over a column is the literal form's exact fold.
    val q = qRows.map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq.toDF("qid", "qfxd")
    val scoredExact = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        call_function("vec_dot", col("fxd"), col("qfxd")).as("cos"))
    val exact = Similarity.topKPerQid(scoredExact, topK)
      .select(col("qid"), col("vec_id"))
    // Both comparison frames are ≤ |Q|·topK rows BY CONTRACT (top-k per
    // query), but they surface behind the heap prune's typed boundary
    // with no stats, so AQE can't see that and plans sort-merge joins.
    // A static broadcast is provably safe here — the size bound is the
    // operator's own contract, not a data property (the Passages OOM
    // reasoning does NOT apply).
    val hits = exact.join(broadcast(ann.select("qid", "vec_id")),
        Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
      .orderBy("qid")
  }

  /** DuckDB oracle for [[ivfAdcTopKFromIndex]] over a sidecar landed
    * from the whole corpus in any split (write on `trainPredSql`'s
    * rows, append the rest): coarse chain and per-subspace PQ chains
    * train over the SPLIT only (seeds = the split's k lowest-id
    * vectors, per subspace), the FULL corpus assigns and encodes under
    * those final centroids (landing ≡ write-time assignment — both are
    * `argmax_dot` scans under the same codebooks), and probe/LUT/rank
    * mirror [[ivfAdcOracleSql]]. */
  def landedIvfPqOracleSql(queryIds: Seq[Long], kCoarse: Int,
      coarseRounds: Int, m: Int, k: Int, pqRounds: Int, dim: Int,
      nprobe: Int, topK: Int, trainPredSql: String): String = {
    val d = dim / m
    def trainSlice(mi: Int): String = {
      val lo = mi * d + 1
      val hi = lo + d - 1
      "(SELECT vec_id, (list_transform(embedding, x -> x::DOUBLE))" +
        s"[$lo:$hi] AS emb FROM embeddings WHERE $trainPredSql)"
    }
    val chains = (0 until m).map(mi =>
      Clustering.kmeansCtes(k, pqRounds, d, trainSlice(mi), s"m${mi}_")
        .stripPrefix("WITH "))
    val fullAssign = (0 until m).map { mi =>
      s"""f${mi}e AS (${Clustering.liftedSql(sliceSql(mi, d))}),
         |fa$mi AS (
         |  SELECT vec_id, CAST($mi AS INTEGER) AS m, cid AS code FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${Clustering.dotSql("e.fxd", "c.c", d)} - 0.5 * ${
               Clustering.dotSql("c.c", "c.c", d)} DESC, c.cid) AS rn
         |    FROM f${mi}e e CROSS JOIN m${mi}_c$pqRounds c)
         |  WHERE rn = 1)""".stripMargin
    }
    val codesUnion = (0 until m).map(mi => s"SELECT * FROM fa$mi")
      .mkString("\n  UNION ALL ")
    val coarseChain = Clustering.kmeansCtes(kCoarse, coarseRounds, dim,
      "(SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb " +
        s"FROM embeddings WHERE $trainPredSql)", "cg_")
      .stripPrefix("WITH ")
    val lift = "list_transform(list_transform(embedding, x -> x::DOUBLE), " +
      s"v -> CAST(CAST(floor(v * ${Clustering.Scale} + 0.5) AS BIGINT) AS DOUBLE))"
    val booksSql = (0 until m).map { mi =>
      s"SELECT CAST($mi AS INTEGER) AS m, cid, c FROM m${mi}_c$pqRounds"
    }.mkString("\n  UNION ALL ")
    val qSubDot = (0 until m).map { mi =>
      val lo = mi * d + 1
      s"WHEN cm.m = $mi THEN ${
        Clustering.dotSql(s"(q.fxd[$lo:${lo + d - 1}])", "cm.c", d)}"
    }.mkString("\n      ")
    s"""WITH ${chains.mkString(",\n")},
       |${fullAssign.mkString(",\n")},
       |$coarseChain,
       |codes AS ($codesUnion),
       |fe AS (SELECT vec_id, $lift AS fxd FROM embeddings),
       |fca AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${Clustering.dotSql("e.fxd", "c.c", dim)} - 0.5 * ${
             Clustering.dotSql("c.c", "c.c", dim)} DESC, c.cid) AS rn
       |    FROM fe e CROSS JOIN cg_c$coarseRounds c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, fxd FROM fe
       |  WHERE vec_id IN (${queryIds.mkString(", ")})),
       |lut AS (SELECT q.qid, cm.m, cm.cid,
       |    CASE $qSubDot END AS part
       |  FROM q CROSS JOIN ($booksSql) cm),
       |pc AS (SELECT qid, cid AS cell FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${Clustering.dotSql("q.fxd", "c.c", dim)} - 0.5 * ${
             Clustering.dotSql("c.c", "c.c", dim)} DESC, c.cid) AS prn
       |    FROM q CROSS JOIN cg_c$coarseRounds c)
       |  WHERE prn <= $nprobe),
       |scored AS (SELECT pc.qid, cj.vec_id,
       |    ${Clustering.fold("list(lut.part ORDER BY lut.m)")} AS score
       |  FROM pc
       |  JOIN fca a ON a.cell = pc.cell
       |  JOIN codes cj ON cj.vec_id = a.vec_id
       |  JOIN lut ON lut.qid = pc.qid AND lut.m = cj.m AND lut.cid = cj.code
       |  WHERE cj.vec_id <> pc.qid
       |  GROUP BY pc.qid, cj.vec_id)
       |${rankTailSql(topK)}""".stripMargin
  }

  /** Landed-index STALENESS report (r17): [[annRecall]] with the ANN
    * side answered by a STORED sidecar ([[ivfAdcTopKFromIndex]]) and
    * the exact side computed over the CURRENT corpus — the ops meter
    * that says when a landed index must re-land: an index trained and
    * populated before a corpus grew (or after retirement) recovers a
    * measurably smaller fraction of the true neighbors, and THIS
    * number, not a hunch, schedules the rebuild. Returns
    * (qid, n_exact, n_hit, recall) per query.
    *
    * Scale shape: the stored probe is the partition-pruned
    * [[ivfAdcScoredFromIndex]] scan; the exact side is ONE
    * broadcast-query pass over the lifted corpus ([[Similarity
    * .batchTopK]]'s discipline) — the evaluation runs on a bounded
    * query sample by contract. */
  def indexStaleness(spark: org.apache.spark.sql.SparkSession,
      table: String, corpus: DataFrame, idCol: String, embCol: String,
      queryIds: Seq[Long], nprobe: Int, topK: Int): DataFrame = {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    require(queryIds.nonEmpty && queryIds.size <= 1000,
      s"query batch of ${queryIds.size} exceeds the broadcast contract")
    val queries = corpus.filter(col(idCol).isin(queryIds: _*))
    val ann = ivfAdcTopKFromIndex(spark, table, queries, idCol, embCol,
      nprobe, topK)
    val e = Clustering.lifted(corpus, idCol, embCol)
    val qRows = e.filter(col("vec_id").isin(queryIds: _*))
      .select(col("vec_id"), col("fxd")).collect()
    val q = qRows.map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1).toSeq.toDF("qid", "qfxd")
    val scoredExact = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        call_function("vec_dot", col("fxd"), col("qfxd")).as("cos"))
    val exact = Similarity.topKPerQid(scoredExact, topK)
      .select(col("qid"), col("vec_id"))
    val hits = exact.join(broadcast(ann.select("qid", "vec_id")),
        Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("n_hit"))
    exact.groupBy("qid").agg(count(lit(1)).as("n_exact"))
      .join(broadcast(hits), Seq("qid"), "left")
      .select(col("qid"), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .withColumn("recall",
        col("n_hit").cast("double") / col("n_exact").cast("double"))
      .orderBy("qid")
  }

  /** DuckDB oracle for [[indexStaleness]] over a sidecar landed from
    * `memberPredSql`'s rows only (training AND membership — the stale
    * index never saw the rest): the landed probe replay restricted to
    * stored members, the exact top-k over the CURRENT full corpus, and
    * the per-query intersection. */
  def stalenessOracleSql(queryIds: Seq[Long], kCoarse: Int,
      coarseRounds: Int, m: Int, k: Int, pqRounds: Int, dim: Int,
      nprobe: Int, topK: Int, memberPredSql: String): String = {
    val d = dim / m
    def trainSlice(mi: Int): String = {
      val lo = mi * d + 1
      val hi = lo + d - 1
      "(SELECT vec_id, (list_transform(embedding, x -> x::DOUBLE))" +
        s"[$lo:$hi] AS emb FROM embeddings WHERE $memberPredSql)"
    }
    val chains = (0 until m).map(mi =>
      Clustering.kmeansCtes(k, pqRounds, d, trainSlice(mi), s"m${mi}_")
        .stripPrefix("WITH "))
    val coarseChain = Clustering.kmeansCtes(kCoarse, coarseRounds, dim,
      "(SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS emb " +
        s"FROM embeddings WHERE $memberPredSql)", "cg_")
      .stripPrefix("WITH ")
    val lift = "list_transform(list_transform(embedding, x -> x::DOUBLE), " +
      s"v -> CAST(CAST(floor(v * ${Clustering.Scale} + 0.5) AS BIGINT) AS DOUBLE))"
    val booksSql = (0 until m).map { mi =>
      s"SELECT CAST($mi AS INTEGER) AS m, cid, c FROM m${mi}_c$pqRounds"
    }.mkString("\n  UNION ALL ")
    val qSubDot = (0 until m).map { mi =>
      val lo = mi * d + 1
      s"WHEN cm.m = $mi THEN ${
        Clustering.dotSql(s"(q.fxd[$lo:${lo + d - 1}])", "cm.c", d)}"
    }.mkString("\n      ")
    val memberCodes = (0 until m).map { mi =>
      s"""me$mi AS (${Clustering.liftedSql(trainSlice(mi))}),
         |mc$mi AS (
         |  SELECT vec_id, CAST($mi AS INTEGER) AS m, cid AS code FROM (
         |    SELECT e.vec_id, c.cid,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        ${Clustering.dotSql("e.fxd", "c.c", d)} - 0.5 * ${
               Clustering.dotSql("c.c", "c.c", d)} DESC, c.cid) AS rn
         |    FROM me$mi e CROSS JOIN m${mi}_c$pqRounds c)
         |  WHERE rn = 1)""".stripMargin
    }
    val codesUnion = (0 until m).map(mi => s"SELECT * FROM mc$mi")
      .mkString("\n  UNION ALL ")
    s"""WITH ${chains.mkString(",\n")},
       |$coarseChain,
       |${memberCodes.mkString(",\n")},
       |codes AS ($codesUnion),
       |fe AS (SELECT vec_id, $lift AS fxd FROM embeddings),
       |mca AS (SELECT vec_id, cid AS cell FROM (
       |    SELECT e.vec_id, c.cid,
       |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |        ${Clustering.dotSql("e.fxd", "c.c", dim)} - 0.5 * ${
             Clustering.dotSql("c.c", "c.c", dim)} DESC, c.cid) AS rn
       |    FROM (SELECT vec_id, fxd FROM fe
       |          WHERE vec_id IN (SELECT vec_id FROM embeddings
       |                           WHERE $memberPredSql)) e
       |    CROSS JOIN cg_c$coarseRounds c)
       |  WHERE rn = 1),
       |q AS (SELECT vec_id AS qid, fxd FROM fe
       |  WHERE vec_id IN (${queryIds.mkString(", ")})),
       |lut AS (SELECT q.qid, cm.m, cm.cid,
       |    CASE $qSubDot END AS part
       |  FROM q CROSS JOIN ($booksSql) cm),
       |pc AS (SELECT qid, cid AS cell FROM (
       |    SELECT q.qid, c.cid,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${Clustering.dotSql("q.fxd", "c.c", dim)} - 0.5 * ${
             Clustering.dotSql("c.c", "c.c", dim)} DESC, c.cid) AS prn
       |    FROM q CROSS JOIN cg_c$coarseRounds c)
       |  WHERE prn <= $nprobe),
       |scored AS (SELECT pc.qid, cj.vec_id,
       |    ${Clustering.fold("list(lut.part ORDER BY lut.m)")} AS score
       |  FROM pc
       |  JOIN mca a ON a.cell = pc.cell
       |  JOIN codes cj ON cj.vec_id = a.vec_id
       |  JOIN lut ON lut.qid = pc.qid AND lut.m = cj.m AND lut.cid = cj.code
       |  WHERE cj.vec_id <> pc.qid
       |  GROUP BY pc.qid, cj.vec_id),
       |ann AS (SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
       |    FROM scored) WHERE rn <= $topK),
       |exact AS (SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${Clustering.dotSql("e.fxd", "q.fxd", dim)} DESC, e.vec_id) AS rn
       |    FROM q CROSS JOIN fe e WHERE e.vec_id <> q.qid)
       |  WHERE rn <= $topK),
       |hit AS (SELECT exact.qid, count(*) AS n_hit
       |  FROM exact JOIN ann USING (qid, vec_id) GROUP BY exact.qid)
       |SELECT x.qid, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(coalesce(max(hit.n_hit), 0) AS BIGINT) AS n_hit,
       |  CAST(CAST(coalesce(max(hit.n_hit), 0) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS recall
       |FROM exact x LEFT JOIN hit ON hit.qid = x.qid
       |GROUP BY x.qid ORDER BY x.qid""".stripMargin
  }

  /** DuckDB oracle for [[ivfAdcRerankTopK]]: the composed CTEs rank the
    * ADC shortlist, then the exact lifted dot over the coarse chain's
    * full-dimension `cg_e` re-scores and re-ranks it. */
  def rerankOracleSql(queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int,
      m: Int, k: Int, pqRounds: Int, dim: Int, nprobe: Int, shortlist: Int,
      topK: Int): String =
    s"""${ivfAdcCtesSql(queryIds, kCoarse, coarseRounds, m, k, pqRounds,
           dim, nprobe)},
       |short AS (SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
       |    FROM scored) WHERE rn <= $shortlist),
       |rescored AS (SELECT s.qid, e.vec_id,
       |    ${Clustering.dotSql("e.fxd", "q.fxd", dim)} AS score
       |  FROM short s
       |  JOIN cg_e e ON e.vec_id = s.vec_id
       |  JOIN q ON q.qid = s.qid)
       |SELECT qid, vec_id, score, rn FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
       |  FROM rescored)
       |WHERE rn <= $topK ORDER BY qid, vec_id""".stripMargin

  /** DuckDB oracle for [[annRecall]]: the composed CTEs, the ANN top-k,
    * the exact lifted-dot top-k over the coarse chain's full-dimension
    * `cg_e`, and the per-query intersection count. */
  def recallOracleSql(queryIds: Seq[Long], kCoarse: Int, coarseRounds: Int,
      m: Int, k: Int, pqRounds: Int, dim: Int, nprobe: Int,
      topK: Int): String =
    s"""${ivfAdcCtesSql(queryIds, kCoarse, coarseRounds, m, k, pqRounds,
           dim, nprobe)},
       |ann AS (SELECT qid, vec_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id) AS rn
       |    FROM scored) WHERE rn <= $topK),
       |exact AS (SELECT qid, vec_id FROM (
       |    SELECT q.qid, e.vec_id,
       |      row_number() OVER (PARTITION BY q.qid ORDER BY
       |        ${Clustering.dotSql("e.fxd", "q.fxd", dim)} DESC, e.vec_id) AS rn
       |    FROM q CROSS JOIN cg_e e WHERE e.vec_id <> q.qid)
       |  WHERE rn <= $topK),
       |hit AS (SELECT exact.qid, count(*) AS n_hit
       |  FROM exact JOIN ann USING (qid, vec_id) GROUP BY exact.qid)
       |SELECT x.qid, CAST(count(*) AS BIGINT) AS n_exact,
       |  CAST(coalesce(max(hit.n_hit), 0) AS BIGINT) AS n_hit,
       |  CAST(CAST(coalesce(max(hit.n_hit), 0) AS BIGINT) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS recall
       |FROM exact x LEFT JOIN hit ON hit.qid = x.qid
       |GROUP BY x.qid ORDER BY x.qid""".stripMargin
}
