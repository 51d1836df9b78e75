package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.ops.Materialize

/** Distributed quality-classifier TRAINING — the missing half of the
  * curation family. q24/q44/q72 score documents with FIXED heuristics;
  * production pipelines (the fastText-style keep/drop filters used to
  * curate web crawls) instead TRAIN a linear model against a labeled
  * slice and score the corpus with the learned weights. This implements
  * the batch perceptron: K full-corpus rounds of
  *
  *   w ← w + Σ_{i : yᵢ·(w·xᵢ) ≤ 0} yᵢ·xᵢ
  *
  * — chosen over logistic regression because the update is INTEGER
  * arithmetic end-to-end (the [[Importance]]/[[Sampling]] house rule:
  * no float accumulation ordering can make two engines disagree), so
  * training is bit-reproducible and oracle-checkable, while still being
  * a genuine gradient-family learner (it is SGD on the hinge loss at
  * margin 0, batched).
  *
  * Scale shape: the feature frame is computed ONCE — a narrow scan
  * projecting each document to `(doc_id, y, f0..f4)` longs (native
  * token/punct counting, [[graft.functions.TokenStatsExpr]]) — and
  * MATERIALIZED ([[Materialize.barrier]]) because every round and the
  * final scoring pass re-consume it; text never leaves the scan. Each
  * round is one whole-stage-codegen'd filter+aggregate over that slim
  * frame with map-side partial sums, collecting exactly d=5 longs to the
  * driver (the [[graft.ops.ScalableCumSum]] O(P)-collect convention);
  * the next round's weights ride back as LITERALS in the plan, so
  * nothing is broadcast and no join ever forms. K rounds = K passes; at
  * 100 TB each pass is an embarrassingly parallel scan of a 6-long-column
  * cached frame, and the driver holds 5 longs of state.
  *
  * Overflow envelope (documented, not guarded — Long headroom is ~400×
  * beyond a 10¹⁰-document corpus): every |fⱼ| ≤ 256, so |wⱼ| ≤
  * rounds·N·256 (≈2×10¹³ at N=10¹⁰, rounds=8) and |w·x| ≤
  * 5·256·max|wⱼ| ≈ 2.6×10¹⁶ ≪ 2⁶³.
  */
object QualityClassifier {

  /** Feature dimension (bias + 4 clipped integer text signals). */
  val Dim = 5

  /** The integer feature columns, index-aligned with [[featureSqls]]:
    * bias, clipped token count, clipped n_chars/16, clipped punctuation
    * count, clipped scaled "the" count (the deliberately language-skewed
    * signal that gives an en-vs-rest label something to fit). Clipping
    * bounds every feature so a single pathological document cannot
    * dominate an update — and fixes the overflow envelope above. */
  private def featureCols(textCol: String, nCharsCol: String): Seq[Column] = Seq(
    lit(1L),
    least(TextStats.tokenCount(col(textCol)).cast("long"), lit(256L)),
    least(expr(s"$nCharsCol DIV 16"), lit(256L)),
    least(TextStats.punctCount(col(textCol)).cast("long"), lit(64L)),
    least(regexp_count(col(textCol), lit("\\bthe\\b")).cast("long") * lit(8L),
      lit(256L)))

  /** DuckDB formulations of [[featureCols]], same order, over table
    * `documents` columns `text` / `n_chars`. */
  private val featureSqls: Seq[String] = Seq(
    "CAST(1 AS BIGINT)",
    raw"CAST(least(len(regexp_extract_all(text, '\S+')), 256) AS BIGINT)",
    "CAST(least(n_chars // 16, 256) AS BIGINT)",
    raw"CAST(least(len(regexp_extract_all(text, '[.,!?;:]')), 64) AS BIGINT)",
    raw"CAST(least(len(regexp_extract_all(text, '\bthe\b')) * 8, 256) AS BIGINT)")

  /** `(doc_id, y, f0..f4)` — label +1 where `langCol = posLang`, −1
    * otherwise. */
  private def features(docs: DataFrame, idCol: String, langCol: String,
      textCol: String, nCharsCol: String, posLang: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val fs = featureCols(textCol, nCharsCol).zipWithIndex.map {
      case (c, j) => c.as(s"f$j")
    }
    docs.select(
      col(idCol).cast("long").as("doc_id") +:
      when(col(langCol) === posLang, 1L).otherwise(-1L).as("y") +:
      fs: _*)
  }

  private def dot(w: Array[Long]): Column =
    (0 until Dim).map(j => lit(w(j)) * col(s"f$j")).reduce(_ + _)

  /** Train `rounds` batch-perceptron rounds and return
    * `(doc_id, y, score, pred)` for every document under the FINAL
    * weights — score = w·x, pred = sign(score) with 0 → −1 (an
    * untrained or exactly-on-boundary document is not a keep). */
  def trainAndScore(docs: DataFrame, idCol: String, langCol: String,
      textCol: String, nCharsCol: String, posLang: String,
      rounds: Int): DataFrame = {
    val feats = Materialize.barrier(
      features(docs, idCol, langCol, textCol, nCharsCol, posLang))
    scoreSelect(feats, trainOn(feats, rounds))
  }

  /** Train only: the final weight vector (d = [[Dim]] longs), feature
    * cache released before returning — for deployments that train once
    * on a labeled corpus and score elsewhere ([[scoreWith]], the
    * micro-batch form `StreamQualitySpec` runs). */
  def train(docs: DataFrame, idCol: String, langCol: String,
      textCol: String, nCharsCol: String, posLang: String,
      rounds: Int): Array[Long] = {
    val feats = Materialize.barrier(
      features(docs, idCol, langCol, textCol, nCharsCol, posLang))
    val w = trainOn(feats, rounds)
    Materialize.release(Seq(feats))
    w
  }

  /** Score `docs` under FIXED weights — one uncached pass building the
    * identical columns as [[trainAndScore]]'s final select, so scoring
    * the training corpus with [[train]]'s weights is bit-equal to
    * `trainAndScore` (StreamQualitySpec pins it). */
  def scoreWith(docs: DataFrame, idCol: String, langCol: String,
      textCol: String, nCharsCol: String, posLang: String,
      w: Array[Long]): DataFrame = {
    require(w.length == Dim, s"weight vector must have $Dim components")
    scoreSelect(features(docs, idCol, langCol, textCol, nCharsCol, posLang), w)
  }

  private def scoreSelect(feats: DataFrame, w: Array[Long]): DataFrame =
    feats.select(col("doc_id"), col("y"),
      dot(w).as("score"),
      when(dot(w) > 0, 1L).otherwise(-1L).as("pred"))
      .orderBy("doc_id")

  private def trainOn(feats: DataFrame, rounds: Int): Array[Long] = {
    require(rounds >= 1 && rounds <= 64, s"rounds must be in [1,64]: $rounds")
    val w = Array.fill(Dim)(0L)
    for (_ <- 1 to rounds) {
      // Round k: the misclassified set under the CURRENT weights (w·x
      // signed wrong or zero — the all-zero start makes round 1 sum
      // every document), aggregated to d partial-update longs.
      val sums = feats.filter(col("y") * dot(w) <= 0)
        .agg(sum(col("y") * col("f0")).as("u0"),
          (1 until Dim).map(j => sum(col("y") * col(s"f$j")).as(s"u$j")): _*)
        .head()
      for (j <- 0 until Dim)
        w(j) += (if (sums.isNullAt(j)) 0L else sums.getLong(j))
    }
    w
  }

  /** DuckDB oracle for [[trainAndScore]] over table `documents`: the K
    * rounds unroll as chained single-row CTEs (`w1..wK`), each cross-
    * joining the feature CTE with the previous weights and grouping the
    * carried weight columns — the same integer recurrence, so weights
    * and scores match bit-for-bit. */
  def oracleSql(posLang: String, rounds: Int): String = {
    val js = 0 until Dim
    val feats =
      s"""feats AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN lang = '$posLang' THEN 1 ELSE -1 END AS BIGINT) AS y,
         |${js.map(j => s"    ${featureSqls(j)} AS f$j").mkString(",\n")}
         |  FROM documents)""".stripMargin
    val w0 =
      s"w0 AS (SELECT ${js.map(j => s"CAST(0 AS BIGINT) AS a$j").mkString(", ")})"
    def dotSql(prefix: String): String =
      js.map(j => s"$prefix.a$j * f$j").mkString(" + ")
    val roundCtes = (1 to rounds).map { k =>
      val prev = s"w${k - 1}"
      // CAST back to BIGINT: DuckDB's sum(BIGINT) widens to HUGEINT,
      // which would otherwise infect every later round and the score.
      val terms = js.map { j =>
        s"CAST($prev.a$j + coalesce(sum(CASE WHEN y * (${dotSql(prev)}) <= 0 " +
          s"THEN y * f$j END), 0) AS BIGINT) AS a$j"
      }
      s"""w$k AS (
         |  SELECT ${terms.mkString(",\n         ")}
         |  FROM feats CROSS JOIN $prev
         |  GROUP BY ${js.map(j => s"$prev.a$j").mkString(", ")})""".stripMargin
    }
    val wf = s"w$rounds"
    val scoreSql = js.map(j => s"w.a$j * f.f$j").mkString(" + ")
    s"""WITH $feats,
       |$w0,
       |${roundCtes.mkString(",\n")}
       |SELECT f.doc_id, f.y, ($scoreSql) AS score,
       |  CAST(CASE WHEN ($scoreSql) > 0 THEN 1 ELSE -1 END AS BIGINT) AS pred
       |FROM feats f CROSS JOIN $wf w
       |ORDER BY f.doc_id""".stripMargin
  }
}
