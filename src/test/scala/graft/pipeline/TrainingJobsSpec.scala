package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** In the driver regime (training frame ≤ `Clustering.MaxCentroidCells`
  * cells) a trainer's rounds cost no Spark job: building a k-means or a
  * PQ frame starts exactly ONE job — the bounded training collect —
  * whatever the round count. Before, each round past the first added
  * its own aggregate (two jobs under AQE): 1, 3 and 9 jobs at rounds 1,
  * 2 and 5. */
class TrainingJobsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  // Resolved before any count: the first load of a path lists its files.
  private lazy val emb = {
    val e = graft.core.Tables.load(spark, TestSpark.Sf, "embeddings")
    e.schema
    e
  }

  private def released(body: => Unit): Unit =
    graft.ops.Materialize.releasing(body)

  for (rounds <- Seq(1, 2, 5)) {
    test(s"k-means training at rounds = $rounds starts one job") {
      val corpus = emb
      released {
        assert(TestSpark.jobsDuring(spark) {
          Clustering.kmeans(corpus, "vec_id", "embedding", k = 8, rounds = rounds)
        } == 1)
      }
    }

    test(s"PQ training at rounds = $rounds starts one job for all m subspaces") {
      val corpus = emb
      released {
        assert(TestSpark.jobsDuring(spark) {
          ProductQuant.encode(corpus, "vec_id", "embedding", m = 8, k = 16,
            rounds = rounds, dim = graft.queries.PipelineQueries.EmbeddingDim)
        } == 1)
      }
    }
  }

  test("q150's construction runs 9 jobs, one of them training") {
    // Before: 20. Each trainer ran a seed collect plus a two-job
    // aggregate round, the codes and the cell join had a barrier each,
    // and the query vectors were collected twice. Now one collect feeds
    // the coarse quantizer, the codebooks and the query vectors; the rest
    // is the index barrier, the broadcasts of the small probe, LUT and
    // query relations, and the shortlist's bounded-heap jobs.
    released {
      val jobs = TestSpark.jobsDuring(spark) {
        graft.SparkEntry.queries("q150_adc_rerank")(spark, TestSpark.Sf)
      }
      assert(jobs == 9, s"$jobs construction jobs")
    }
  }
}
