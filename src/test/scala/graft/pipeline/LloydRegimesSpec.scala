package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The two k-means training regimes give the same centroids and the same
  * assignments, bit for bit: the driver rounds
  * ([[Clustering.driverLloyd]], [[ProductQuant.trainBooks]] over collected
  * rows) and the distributed rounds ([[Clustering.distributedLloyd]],
  * [[ProductQuant.distributedBooks]]) are each called directly on the
  * same lifted frame, so no knob is needed to force a regime. */
class LloydRegimesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = graft.core.Tables.load(spark, TestSpark.Sf, "embeddings")
    .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))

  /** A hand-made corpus:
    *  - ids 0 and 1 hold the same vector, so as seeds they tie on every
    *    vector: the lowest id takes them all and cluster 1 empties and
    *    drops out after round 1;
    *  - ids 2/3 and 4/5 are duplicate pairs (ties inside a round);
    *  - id 7 has a null component and id 9 a null embedding. */
  private lazy val handMade: DataFrame = {
    val n: java.lang.Double = null
    def v(xs: java.lang.Double*): Seq[java.lang.Double] = xs
    Seq[(Long, Seq[java.lang.Double])](
      (0L, v(1.0, 0.0, 0.0, 0.25)),
      (1L, v(1.0, 0.0, 0.0, 0.25)),
      (2L, v(0.0, 1.0, 0.5, 0.0)),
      (3L, v(0.0, 1.0, 0.5, 0.0)),
      (4L, v(-0.5, 0.25, 1.0, 0.125)),
      (5L, v(-0.5, 0.25, 1.0, 0.125)),
      (6L, v(0.75, 0.75, -0.25, 0.5)),
      (7L, v(0.3, n, 0.7, -0.1)),
      (8L, v(0.1, -0.9, 0.2, 0.3)),
      (9L, null))
      .toDF("vec_id", "emb")
      .repartition(3)
  }

  private def bits(cents: Seq[(Long, Array[Double])]): Seq[(Long, Seq[Long])] =
    cents.map { case (cid, c) =>
      (cid, c.toSeq.map(java.lang.Double.doubleToLongBits))
    }

  private def assignments(e: DataFrame, cents: Seq[(Long, Array[Double])]) =
    Clustering.withCluster(e, cents)
      .select(col("vec_id"), col("cluster"), col("score")).collect()
      .map(r => (r.getLong(0), Option(r.get(1)),
        Option(r.get(2)).map(s => java.lang.Double.doubleToLongBits(s.asInstanceOf[Double]))))
      .sortBy(_._1).toSeq

  /** Both regimes on lifted frame `e`; returns the driver centroids. */
  private def sameKmeans(e: DataFrame, k: Int, rounds: Int): Seq[(Long, Array[Double])] = {
    val rows = Clustering.collectBounded(e)
    assert(rows.isDefined, "the frame is inside the driver regime")
    val driver = Clustering.driverLloyd(rows.get, k, rounds)
    val distributed = Clustering.distributedLloyd(e, k, rounds)
    assert(bits(driver) == bits(distributed), s"k=$k rounds=$rounds")
    assert(assignments(e, driver) == assignments(e, distributed))
    driver
  }

  private def sameBooks(e: DataFrame, m: Int, k: Int, rounds: Int, d: Int): Unit = {
    val driver = ProductQuant.trainBooks(e, Clustering.collectBounded(e), m, k, rounds, d)
    val distributed = ProductQuant.distributedBooks(e, m, k, rounds, d)
    assert(driver.map(bits) == distributed.map(bits), s"m=$m k=$k rounds=$rounds")
  }

  private def withLifted[T](df: DataFrame)(body: DataFrame => T): T =
    graft.ops.Materialize.releasing(body(Clustering.lifted(df, "vec_id", "emb")))

  test("duplicate seeds tie to the lowest id, and the emptied cluster drops out") {
    withLifted(handMade) { e =>
      val cents = sameKmeans(e, k = 3, rounds = 3)
      assert(cents.map(_._1) == Seq(0L, 2L), "cluster 1 emptied and dropped")
      sameBooks(e, m = 2, k = 3, rounds = 3, d = 2)
    }
  }

  test("null embeddings assign nowhere; a null component reads 0 in both regimes") {
    withLifted(handMade) { e =>
      sameKmeans(e, k = 4, rounds = 2)
      val assigned = assignments(e, sameKmeans(e, k = 4, rounds = 4))
      assert(assigned.exists(a => a._1 == 9L && a._2.isEmpty))
      sameBooks(e, m = 4, k = 4, rounds = 4, d = 1)
    }
  }

  test("k > n and rounds = 1") {
    // Every vector is a seed here, so the null embedding stays out.
    withLifted(handMade.filter(col("vec_id") =!= 9L)) { e =>
      for (rounds <- Seq(1, 2)) {
        val cents = sameKmeans(e, k = 20, rounds = rounds)
        if (rounds == 1) assert(cents.size == 9, "every vector is a seed")
        sameBooks(e, m = 2, k = 20, rounds = rounds, d = 2)
      }
    }
  }

  test("the fixture corpus, repartitioned, and its md5-gated sample") {
    withLifted(emb.repartition(5)) { e =>
      sameKmeans(e, k = 8, rounds = 3)
      sameBooks(e, m = 8, k = 16, rounds = 3, d = 8)
      val sample = e.filter(Clustering.sampleGate(0.5))
      sameKmeans(sample, k = 8, rounds = 3)
      sameBooks(sample, m = 8, k = 16, rounds = 2, d = 8)
    }
  }

  test("the residual corpus of a coarse quantizer") {
    withLifted(emb) { e =>
      val coarse = sameKmeans(e, k = 8, rounds = 2)
      val resid = Clustering.lifted(
        ProductQuant.residualCorpus(Clustering.withCluster(e, coarse), coarse),
        "vec_id", "emb")
      sameKmeans(resid, k = 8, rounds = 3)
      sameBooks(resid, m = 8, k = 16, rounds = 3, d = 8)
    }
  }
}
