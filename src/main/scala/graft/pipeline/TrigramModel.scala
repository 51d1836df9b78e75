package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Trigram language model with stupid backoff (Brants et al., EMNLP'07
  * "Large Language Models in Machine Translation") — the CCNet-shaped
  * quality filter: train n-gram statistics on a REFERENCE corpus, score
  * a DIFFERENT corpus by average per-trigram conditional score. This is
  * the deployment shape [[BigramModel]] (q88, self-trained) deliberately
  * doesn't have: scored text is held OUT of training, so unseen n-grams
  * genuinely occur and the backoff chain (trigram → bigram → unigram →
  * unseen) is live, not dead code. Stupid backoff multiplies each
  * fallback level by α = 0.4 and never normalizes — at web scale it
  * matches Kneser-Ney within noise at a fraction of the cost (the
  * paper's result), and it keeps every score a pure count ratio, which
  * is what makes the fixed-point lift below exact.
  *
  * Arithmetic is INTEGER end-to-end ([[BigramModel]]'s no-raw-IEEE rule,
  * taken one step further — not even the one lift multiply is IEEE):
  * with S = 2^20 and α = 2/5,
  *   level 3: p = (S·c(w1w2w3)) div c(w1w2)
  *   level 2: p = (2·S·c(w2w3)) div (5·c(w2))
  *   level 1: p = (4·S·c(w3))   div (25·N)
  *   unseen:  p = 0
  * — integer floor-divisions with exact-long numerators (in-plan
  * overflow guards on the vocabulary-sized count frames), bit-identical
  * in any engine. A trigram present in the model implies its "w1 w2"
  * context is present (same tokenization, every trigram window contains
  * its prefix bigram window), so no division ever meets a null.
  *
  * Scale shape: train text is parsed ONCE into a materialized token
  * ARRAY frame; all three gram grains lift from the cached arrays by
  * higher-order `transform` (no second tokenize pass). The model is one
  * slim `(level, gram, c)` frame — COUNTS, which are additive, so the
  * stored sidecar ([[CorpusWriter.writeLmModel]]) supports plain APPEND
  * landings with a sum-fold on read (the skew-counter/HLL register
  * discipline: merge is the aggregation itself). Scoring tokenizes the
  * scored corpus once into (doc, trigram) counts and runs five
  * vocabulary-keyed equi-joins (tri, both bigram roles, two unigram
  * roles) — no broadcast hint (a 100 TB reference corpus's trigram
  * vocabulary is not driver-sized; AQE picks), text never reshuffles,
  * and the only corpus-scale shuffle is the per-(doc, gram) count.
  */
object TrigramModel {

  /** Fixed-point scale (2^20, [[BigramModel.Scale]]'s convention). */
  val Scale: Long = 1L << 20

  /** Largest count the level-1 numerator `4·S·c` keeps inside a Long:
    * ~2.2e12 — beyond any single token's count until ~100× the 100 TB
    * design point; guarded in-plan, never silently wrapped. */
  val MaxCount: Long = Long.MaxValue / (4 * Scale)

  private def guarded(c: org.apache.spark.sql.Column) =
    when(c > MaxCount, expr(
      s"CAST(raise_error(CONCAT('trigram LM count overflow: ', " +
        s"CAST($MaxCount AS STRING), ' exceeded')) AS BIGINT)"))
      .otherwise(c)

  /** The slim `(level, gram, c)` model frame from a training corpus:
    * level 3 = trigram counts, 2 = bigram, 1 = unigram, 0 = one row
    * (gram '', c = total train tokens). Counts are additive — the
    * model of a union is the per-key SUM of the parts' models, which
    * is what makes append landings and streaming maintenance exact. */
  def modelCounts(train: DataFrame, textCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(train.sparkSession)
    // One parse: token arrays cached, gram grains lift from the array.
    // Cached: feeds all three gram grains plus the total (one parse).
    val toks = Materialize.barrier(
      train.select(graft.functions.GraftFunctions
        .wordGrams(col(textCol), 1).as("t")))
    // explode_outer + isnotnull (r22): the non-outer generate's inferred
    // filter re-built each row's derived gram array a second time (see
    // Winnow.decontam). Gram strings are non-null by construction.
    def gramsOf(n: Int) =
      if (n == 1) explode_outer(col("t")).as("gram")
      else explode_outer(when(size(col("t")) >= n,
        transform(sequence(lit(0), size(col("t")) - n), i =>
          concat_ws(" ", (0 until n).map(j => col("t")(i + lit(j))): _*)))
        .otherwise(array().cast("array<string>"))).as("gram")
    def level(n: Int) = toks.select(gramsOf(n))
      .filter(col("gram").isNotNull)
      .groupBy("gram").agg(count(lit(1)).as("c"))
      .select(lit(n).as("level"), col("gram"), col("c"))
    val total = toks.select(explode_outer(col("t")).as("w"))
      .filter(col("w").isNotNull)
      .agg(count(lit(1)).as("c"))
      .select(lit(0).as("level"), lit("").as("gram"), col("c"))
    level(3).unionAll(level(2)).unionAll(level(1)).unionAll(total)
  }

  /** Score `score` under a standing `(level, gram, c)` model frame
    * (fresh from [[modelCounts]] or read back from the sidecar —
    * duplicate rows per (level, gram) are summed, so appended landings
    * need no compaction to be correct). One row per scored doc with
    * ≥ 3 tokens: occurrence count, exact fixed-point sum, the one
    * final IEEE division, and the per-level occurrence breakdown
    * (n_tri/n_bi/n_uni/n_unseen — the backoff-health telemetry a
    * filter threshold is tuned against). */
  def scoreFromModel(score: DataFrame, idCol: String, textCol: String,
      model: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(score.sparkSession)
    // Sum-fold: append landings leave duplicate (level, gram) rows.
    // Cached: the folded model feeds five lookup joins + the total.
    // Zero-sum grams are SKIPPED (c > 0): a subtract landing
    // (CorpusWriter.retireFromLmModel) nets a fully-retired gram to 0,
    // and it must back off exactly like a never-seen one — a c = 0 row
    // surviving into the left joins would pin the level without the
    // count. No-op for append-only models (their sums are all > 0).
    // A NEGATIVE sum (over-retirement — docs retired that never
    // trained, or a double-applied delete) raises HERE, not only at
    // compaction: the serving path must never quietly score a
    // corrupted model as if the gram were unseen (ADVICE r17).
    val m = Materialize.barrier(
      model.groupBy("level", "gram").agg(sum("c").as("c"))
        .withColumn("c", when(col("c") < 0, expr(
          "CAST(raise_error(CONCAT('LM model gram below zero at read: ', " +
            "gram)) AS BIGINT)")).otherwise(col("c")))
        .filter(col("c") > 0))
    def lookup(lvl: Int, key: String, cName: String) = m
      .filter(col("level") === lvl)
      .select(col("gram").as(key), guarded(col("c")).as(cName))
    val nTrain = m.filter(col("level") === 0)
      .select(guarded(col("c")).as("n_train"))
    val docTri = score
      .select(col(idCol).cast("long").as("doc_id"),
        explode_outer(graft.functions.GraftFunctions.wordGrams(col(textCol), 3))
          .as("gram"))
      .filter(col("gram").isNotNull)
      .groupBy("doc_id", "gram").agg(count(lit(1)).as("c_dg"))
      .withColumn("w12", substring_index(col("gram"), " ", 2))
      .withColumn("w23", substring_index(col("gram"), " ", -2))
      .withColumn("w2", substring_index(col("w23"), " ", 1))
      .withColumn("w3", substring_index(col("gram"), " ", -1))
    val joined = docTri
      .join(lookup(3, "gram", "c123"), Seq("gram"), "left")
      .join(lookup(2, "w12", "c12"), Seq("w12"), "left")
      .join(lookup(2, "w23", "c23"), Seq("w23"), "left")
      .join(lookup(1, "w2", "c2"), Seq("w2"), "left")
      .join(lookup(1, "w3", "c3"), Seq("w3"), "left")
      .crossJoin(broadcast(nTrain))
    val pFp = when(col("c123").isNotNull,
        expr(s"(${Scale}L * c123) div c12"))
      .when(col("c23").isNotNull,
        expr(s"(${2 * Scale}L * c23) div (5L * c2)"))
      .when(col("c3").isNotNull,
        expr(s"(${4 * Scale}L * c3) div (25L * n_train)"))
      .otherwise(lit(0L))
    val lvl = when(col("c123").isNotNull, 3)
      .when(col("c23").isNotNull, 2)
      .when(col("c3").isNotNull, 1).otherwise(0)
    joined.select(col("doc_id"), col("c_dg"), pFp.as("p_fp"), lvl.as("lvl"))
      .groupBy("doc_id")
      .agg(sum("c_dg").as("n_trigrams"),
        sum(col("c_dg") * col("p_fp")).as("sum_fp"),
        sum(when(col("lvl") === 3, col("c_dg")).otherwise(0L)).as("n_tri"),
        sum(when(col("lvl") === 2, col("c_dg")).otherwise(0L)).as("n_bi"),
        sum(when(col("lvl") === 1, col("c_dg")).otherwise(0L)).as("n_uni"),
        sum(when(col("lvl") === 0, col("c_dg")).otherwise(0L)).as("n_unseen"))
      .select(col("doc_id"), col("n_trigrams"), col("sum_fp"),
        (col("sum_fp").cast("double") /
          (col("n_trigrams") * lit(Scale)).cast("double")).as("avg_cond_prob"),
        col("n_tri"), col("n_bi"), col("n_uni"), col("n_unseen"))
      .orderBy("doc_id")
  }

  /** In-session composition: train on `train`, score `score`. */
  def backoffScore(train: DataFrame, score: DataFrame, idCol: String,
      textCol: String): DataFrame =
    scoreFromModel(score, idCol, textCol, modelCounts(train, textCol))

  /** DuckDB oracle for [[backoffScore]] over table `documents` with
    * `trainPred`/`scorePred` as SQL predicates on the doc row. Replays
    * the gram counts and the same integer floor-divisions (`//`). */
  def oracleSql(trainPred: String, scorePred: String): String =
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t
       |  FROM documents),
       |tri AS (
       |  SELECT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g,
       |    CAST(count(*) AS BIGINT) AS c
       |  FROM toks, LATERAL unnest(range(1, len(t) - 1)) AS r(i)
       |  WHERE ($trainPred) AND len(t) >= 3 GROUP BY g),
       |bi AS (
       |  SELECT t[i] || ' ' || t[i+1] AS g, CAST(count(*) AS BIGINT) AS c
       |  FROM toks, LATERAL unnest(range(1, len(t))) AS r(i)
       |  WHERE ($trainPred) AND len(t) >= 2 GROUP BY g),
       |uni AS (
       |  SELECT w AS g, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT unnest(t) AS w FROM toks WHERE ($trainPred)) u
       |  GROUP BY g),
       |nt AS (SELECT CAST(sum(len(t)) AS BIGINT) AS n_train
       |       FROM toks WHERE ($trainPred)),
       |dg AS (
       |  SELECT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g,
       |    CAST(count(*) AS BIGINT) AS c_dg
       |  FROM toks, LATERAL unnest(range(1, len(t) - 1)) AS r(i)
       |  WHERE ($scorePred) AND len(t) >= 3 GROUP BY doc_id, g),
       |scored AS (
       |  SELECT dg.doc_id, dg.c_dg,
       |    CASE WHEN t3.c IS NOT NULL THEN ($Scale * t3.c) // b12.c
       |         WHEN b23.c IS NOT NULL THEN (${2 * Scale} * b23.c) // (5 * u2.c)
       |         WHEN u3.c IS NOT NULL THEN (${4 * Scale} * u3.c) // (25 * nt.n_train)
       |         ELSE 0 END AS p_fp,
       |    CASE WHEN t3.c IS NOT NULL THEN 3
       |         WHEN b23.c IS NOT NULL THEN 2
       |         WHEN u3.c IS NOT NULL THEN 1 ELSE 0 END AS lvl
       |  FROM dg
       |  LEFT JOIN tri t3 ON dg.g = t3.g
       |  LEFT JOIN bi b12 ON split_part(dg.g, ' ', 1) || ' ' ||
       |    split_part(dg.g, ' ', 2) = b12.g
       |  LEFT JOIN bi b23 ON split_part(dg.g, ' ', 2) || ' ' ||
       |    split_part(dg.g, ' ', 3) = b23.g
       |  LEFT JOIN uni u2 ON split_part(dg.g, ' ', 2) = u2.g
       |  LEFT JOIN uni u3 ON split_part(dg.g, ' ', 3) = u3.g
       |  CROSS JOIN nt)
       |SELECT doc_id,
       |  CAST(sum(c_dg) AS BIGINT) AS n_trigrams,
       |  CAST(sum(c_dg * p_fp) AS BIGINT) AS sum_fp,
       |  CAST(CAST(sum(c_dg * p_fp) AS BIGINT) AS DOUBLE)
       |    / CAST(CAST(sum(c_dg) AS BIGINT) * $Scale AS DOUBLE)
       |    AS avg_cond_prob,
       |  CAST(sum(CASE WHEN lvl = 3 THEN c_dg ELSE 0 END) AS BIGINT) AS n_tri,
       |  CAST(sum(CASE WHEN lvl = 2 THEN c_dg ELSE 0 END) AS BIGINT) AS n_bi,
       |  CAST(sum(CASE WHEN lvl = 1 THEN c_dg ELSE 0 END) AS BIGINT) AS n_uni,
       |  CAST(sum(CASE WHEN lvl = 0 THEN c_dg ELSE 0 END) AS BIGINT) AS n_unseen
       |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
