package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Curation-funnel observability: for each source, how many documents
  * survive each successive pipeline stage — the attrition report every
  * large-scale training-data pipeline publishes beside its corpus (what
  * fraction did language ID remove, what did quality rules cost, how much
  * was duplicate). Kbrowse's own "how many records matched / how far did
  * the scan get" progress channel (kbrowse `search.clj`'s matched/scanned
  * counters) is the single-stage version of this; the funnel generalizes
  * it to a staged pipeline.
  *
  * Semantics: every stage flag is computed CORPUS-WIDE as a pure
  * per-document predicate (cross-document stages like dedup-canonical
  * flag against the whole corpus, not the survivors of earlier stages),
  * and the funnel is the CUMULATIVE conjunction in stage order. A
  * document's attributed failure stage is the first stage whose flag is
  * false (`entered − passed` of that row). This decomposition means the
  * per-doc flag frame is reusable under any stage reordering without
  * recomputation, and each flag column can be materialized once beside
  * the corpus (the sidecar discipline) while the funnel itself is one
  * cheap aggregation.
  *
  * Scale shape: one groupBy(source) over slim boolean columns — the
  * cumulative conjunctions fold map-side into ≤ |sources| × (stages+1)
  * partial rows, so the exchange carries counters, never documents. The
  * stage flags themselves are zero-shuffle narrow scans except
  * dedup-canonical's one hash-keyed exchange (the q20/q36 discipline).
  */
object Funnel {

  /** The funnel over a pre-flagged frame: `stages` names boolean columns
    * of `flagged` in pipeline order. Returns one row per (source, stage):
    * `entered` = documents surviving all earlier stages, `passed` =
    * surviving this one too; NULL flags count as failures (the repo's
    * NULL-propagation convention — a flag nobody could compute must not
    * silently pass the document). */
  def report(flagged: DataFrame, srcCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val cums = stages.scanLeft(lit(true)) { (acc, s) =>
      acc && coalesce(col(s), lit(false))
    }.tail
    val sums = cums.zipWithIndex.map { case (c, i) =>
      sum(when(c, lit(1L)).otherwise(lit(0L))).as(s"s${i + 1}")
    }
    val agg = flagged.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("s0"), sums: _*)
    val rows = stages.zipWithIndex.map { case (name, i) =>
      struct(lit(i + 1).cast("int").as("stage_idx"), lit(name).as("stage"),
        col(s"s$i").as("entered"), col(s"s${i + 1}").as("passed"))
    }
    agg.select(col("source"), explode(array(rows: _*)).as("e"))
      .select(col("source"), col("e.stage_idx").as("stage_idx"),
        col("e.stage").as("stage"), col("e.entered").as("entered"),
        col("e.passed").as("passed"))
      .orderBy("source", "stage_idx")
  }

  /** The ROW-LOCAL stage flags of [[curationFunnel]] — everything but
    * the cross-document canonical stage — as (name, predicate) pairs in
    * pipeline order, shared by the batch funnel and its per-micro-batch
    * form (`StreamFunnelSpec`) so the two compute THE SAME
    * predicates (reused verbatim from q35/q44/q46). Row-locality is
    * what makes their funnel counters ADDITIVE across any batch split. */
  def rowLocalStageCols(textCol: String): Seq[(String, Column)] = {
    val t = col(textCol)
    val ts = graft.functions.GraftFunctions.tokenStats(t)
    val nTokens = ts.getItem(0)
    val meanLen = ts.getItem(1).cast("double") /
      nullif(nTokens, lit(0L)).cast("double")
    val quality = nTokens >= 20 && nTokens <= 80 &&
      meanLen >= 3.8 && meanLen <= 5.0 &&
      graft.functions.GraftFunctions.wordSetCount(t, "the,and,of,to,in,is") > 0
    val grams = graft.functions.GraftFunctions.wordGramHashes(t, 3)
    val nGrams = size(grams).cast("long")
    val repetition = nGrams > 0 &&
      (lit(1.0) - size(array_distinct(grams)).cast("double") /
        nullif(nGrams, lit(0L)).cast("double")) <= 0.2
    Seq("lang_en" -> (TextStats.langId(t) === "en"),
      "quality" -> quality, "repetition" -> repetition)
  }

  /** The canned curation funnel over a documents table:
    * language-ID (en) → Gopher quality rules → within-doc repetition →
    * exact-dedup canonical (min doc_id per identical text, md5-keyed —
    * the q36 discipline). Flags reuse the exact q35/q44/q46/q20
    * predicates, so the funnel measures the stages the engine actually
    * ships. */
  def curationFunnel(docs: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val stageCols = rowLocalStageCols(textCol)
    val flagged0 = docs.select(Seq(col(idCol).as("doc_id"),
      col(srcCol).as("source"), md5(col(textCol)).as("__k")) ++
      stageCols.map { case (name, c) => c.as(name) }: _*)
    val keepers = flagged0.groupBy("__k").agg(min("doc_id").as("__keep_id"))
    val flagged = flagged0.join(keepers, Seq("__k"))
      .withColumn("canonical", col("doc_id") === col("__keep_id"))
    report(flagged, "source", Seq("lang_en", "quality", "repetition", "canonical"))
  }

  /** DuckDB oracle for [[curationFunnel]] over table `documents`: the
    * q44 quality CTEs + q46 gram fingerprints + q35 language CASE + the
    * md5-partition canonical window, folded through the same cumulative
    * conjunction and unpivoted by UNION ALL. */
  def curationOracleSql: String = {
    val gram = graft.oracle.Duck.gramHash63Sql("array_to_string(t[i:i+2], ' ')")
    s"""WITH toks AS (
       |  SELECT doc_id, source, text,
       |    regexp_extract_all(text, '\\S+') AS wt,
       |    regexp_extract_all(lower(text), '\\S+') AS t,
       |    ${TextStats.langScoreSqlFragments.mkString(", ")}
       |  FROM documents),
       |m AS (
       |  SELECT doc_id, source, text,
       |    CAST(len(wt) AS BIGINT) AS n_tokens,
       |    CAST(list_reduce(list_prepend(0, list_transform(wt, x -> length(x))),
       |      (a, b) -> a + b) AS DOUBLE)
       |      / CAST(nullif(len(wt), 0) AS DOUBLE) AS mean_tok_len,
       |    len(regexp_extract_all(lower(text),
       |      '\\b(the|and|of|to|in|is)\\b')) > 0 AS has_stop,
       |    list_transform(range(1, greatest(len(t) - 2, 0) + 1),
       |      i -> $gram) AS gh,
       |    ${TextStats.langIdCaseSql} AS lang_id
       |  FROM toks),
       |f AS (
       |  SELECT doc_id, source,
       |    lang_id = 'en' AS lang_en,
       |    n_tokens >= 20 AND n_tokens <= 80
       |      AND mean_tok_len >= CAST(3.8 AS DOUBLE)
       |      AND mean_tok_len <= CAST(5.0 AS DOUBLE)
       |      AND has_stop AS quality,
       |    CAST(len(gh) AS BIGINT) > 0 AND
       |      (1 - CAST(len(list_distinct(gh)) AS DOUBLE)
       |        / CAST(nullif(CAST(len(gh) AS BIGINT), 0) AS DOUBLE))
       |        <= CAST(0.2 AS DOUBLE) AS repetition,
       |    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS canonical
       |  FROM m),
       |c AS (
       |  SELECT source,
       |    coalesce(lang_en, false) AS c1,
       |    coalesce(lang_en, false) AND coalesce(quality, false) AS c2,
       |    coalesce(lang_en, false) AND coalesce(quality, false)
       |      AND coalesce(repetition, false) AS c3,
       |    coalesce(lang_en, false) AND coalesce(quality, false)
       |      AND coalesce(repetition, false) AND coalesce(canonical, false) AS c4
       |  FROM f),
       |a AS (
       |  SELECT source, count(*) AS s0,
       |    CAST(sum(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(sum(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS s2,
       |    CAST(sum(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS s3,
       |    CAST(sum(CASE WHEN c4 THEN 1 ELSE 0 END) AS BIGINT) AS s4
       |  FROM c GROUP BY source)
       |SELECT source, stage_idx, stage, entered, passed FROM (
       |  SELECT source, 1 AS stage_idx, 'lang_en' AS stage, s0 AS entered, s1 AS passed FROM a
       |  UNION ALL
       |  SELECT source, 2, 'quality', s1, s2 FROM a
       |  UNION ALL
       |  SELECT source, 3, 'repetition', s2, s3 FROM a
       |  UNION ALL
       |  SELECT source, 4, 'canonical', s3, s4 FROM a)
       |ORDER BY source, stage_idx""".stripMargin
  }
}
