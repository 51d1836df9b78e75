package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Clustering's two scale-shape rewrites, each pinned bit-identical to
  * the formulation it replaced:
  *  - assignment through the native `argmax_dot` expression (centroid
  *    matrix as ONE data argument) vs the k-node vec_dot/when-chain
  *    expression tree;
  *  - semantic dedup's grouped-vector flatMapGroups drop scan vs the
  *    within-cluster self-join that materialized both embeddings on
  *    every candidate pair row.
  */
class ClusteringSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The q49 fixture: embeddings plus a planted perturbed near-dup
    * family (cos ≈ 0.9995 against the source vectors). */
  private lazy val planted = {
    val dim = graft.queries.PipelineQueries.EmbeddingDim
    val base = graft.core.Tables.load(spark, TestSpark.Sf, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("emb"))
    val copies = base.filter(col("vec_id") % 53 === 0)
      .select((col("vec_id") + 3000000L).as("vec_id"),
        expr(Similarity.perturbExprSql("emb", dim, forDuck = false)).as("emb"))
    base.unionAll(copies)
  }

  test("argmax_dot assignment ≡ the vec_dot/when-chain form, score bits included") {
    val e = Clustering.lifted(planted, "vec_id", "emb")
    val k = 8
    val seedRows = e.orderBy("vec_id").limit(k).select("fxd").collect()
    val cents = seedRows.zipWithIndex.map { case (r, i) =>
      (i.toLong, r.getSeq[Double](0).toArray)
    }.toSeq
    def run(f: (org.apache.spark.sql.DataFrame, Seq[(Long, Array[Double])]) => org.apache.spark.sql.DataFrame) =
      f(e, cents).select("vec_id", "cluster", "score").orderBy("vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    assert(run(Clustering.withCluster) == run(Clustering.chainWithCluster))
  }

  test("grouped semantic dedup ≡ the self-join formulation on the planted fixture") {
    def run(f: => org.apache.spark.sql.DataFrame) =
      f.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    val fast = run(Clustering.semanticDedup(planted, "vec_id", "emb",
      k = 8, rounds = 3, minCos = 0.9))
    val join = run(Clustering.joinSemanticDedup(planted, "vec_id", "emb",
      k = 8, rounds = 3, minCos = 0.9))
    assert(fast == join)
    // The planted copies actually exercise the drop path.
    assert(fast.exists(!_._3))
  }

  test("IVF at nprobe = k ≡ exact batch top-k, cos bits included") {
    val emb = graft.core.Tables.load(spark, TestSpark.Sf, "embeddings")
    val qids = Seq(0L, 1L, 2L, 3L, 4L)
    def collectRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))).toSeq
    val ivf = collectRows(Clustering.ivfTopK(emb, "vec_id", "embedding",
      qids, k = 8, rounds = 3, nprobe = 8, topK = 10))
    val exact = collectRows(Similarity.batchTopK(emb, "vec_id", "embedding",
      qids, k = 10))
    assert(ivf == exact)
  }

  test("IVF at nprobe = 2 returns topK rows per query (cell-bounded recall)") {
    val emb = graft.core.Tables.load(spark, TestSpark.Sf, "embeddings")
    val got = Clustering.ivfTopK(emb, "vec_id", "embedding",
      Seq(0L, 1L), k = 8, rounds = 3, nprobe = 2, topK = 5).collect()
    assert(got.map(_.getLong(0)).distinct.sorted.toSeq == Seq(0L, 1L))
    // Probed cells at sf0.001 hold far more than 5 members each.
    assert(got.length == 10)
  }

  test("kmeans and semanticDedup are invariant to input partitioning (fixed-point claim)") {
    def runK(df: org.apache.spark.sql.DataFrame) =
      Clustering.kmeans(df, "vec_id", "emb", k = 8, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          java.lang.Double.doubleToLongBits(r.getDouble(2)))).toSeq
    def runS(df: org.apache.spark.sql.DataFrame) =
      Clustering.semanticDedup(df, "vec_id", "emb", k = 8, rounds = 3, minCos = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSeq
    assert(runK(planted.repartition(13)) == runK(planted.coalesce(1)))
    assert(runS(planted.repartition(13)) == runS(planted.coalesce(1)))
  }

  test("clusterBalancedSample: ≤ cap per cluster, the md5 draw, assignments intact") {
    val embs = graft.core.Tables.load(spark, TestSpark.Sf, "embeddings")
    val cap = 7
    val got = Clustering.clusterBalancedSample(embs, "vec_id", "embedding",
        k = 4, rounds = 2, sampleFrac = 0.5, cap = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.nonEmpty)
    val byCluster = got.groupBy(_._1)
    byCluster.foreach { case (c, rows) =>
      assert(rows.length <= cap, s"cluster $c holds ${rows.length} > $cap")
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length).map(_.toLong),
        s"cluster $c ranks must be 1..n")
    }
    // The draw is the q39 md5 order over this cluster's full membership.
    val assigned = Clustering.kmeansSampled(embs, "vec_id", "embedding",
        k = 4, rounds = 2, sampleFrac = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val members = assigned.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    byCluster.foreach { case (c, rows) =>
      val md5 = java.security.MessageDigest.getInstance("MD5")
      def draw(id: Long): String = md5.synchronized {
        md5.reset()
        md5.digest(id.toString.getBytes("UTF-8"))
          .map(b => f"${b & 0xff}%02x").mkString
      }
      val want = members(c).sortBy(id => (draw(id), id)).take(cap).sorted
      assert(rows.map(_._2).sorted.toSeq == want.toSeq, s"cluster $c draw")
    }
  }

  test("k×dim past the driver-metadata bound is a contract error, not an OOM") {
    // Seeds come from `limit(k)`, so a 10-row corpus keeps the seed
    // collect tiny while an oversized k still trips the k×dim require.
    val dim = 4
    val tooManyK = (Clustering.MaxCentroidCells / dim + 1).toInt
    val tiny = (0L until 10L).map(i =>
      (i, Array.fill(dim)(i.toDouble))).toDF("vec_id", "emb")
    val ex = intercept[IllegalArgumentException] {
      Clustering.kmeans(tiny, "vec_id", "emb", k = tooManyK, rounds = 2)
    }
    assert(ex.getMessage.contains("driver-metadata"))
  }

  test("k-means on an empty embeddings table is empty, as its DuckDB oracle") {
    val empty = graft.core.Tables.load(spark, TestSpark.Sf, "embeddings").where(lit(false))
    for (rounds <- Seq(1, 3)) {
      val got = Clustering.kmeans(empty, "vec_id", "embedding", k = 8, rounds = rounds)
      assert(got.columns.toSeq == Seq("vec_id", "cluster", "score"))
      assert(got.collect().isEmpty)
    }
  }
}
