package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.ops.Materialize

/** Cross-source term-distribution drift — the corpus-release QA op:
  * for every pair of sources, the L1 distance between their word
  * frequency distributions restricted to the corpus's top-`v` terms,
  * in parts-per-million fixed point. This is the number a pipeline
  * watches release-over-release ("did crawl-B's English shift away
  * from crawl-A's?") and across sources when balancing a mixture —
  * the distribution-level complement of q58's document-overlap matrix
  * (shared DOCS) and q78's KMV content similarity (shared SHINGLES):
  * two sources can share zero documents yet have near-identical term
  * distributions, or vice versa.
  *
  * All arithmetic is exact integers: per-source term frequency is
  * `c·10⁶ DIV n` (truncating division, identical in both engines), the
  * distance is a Long sum of absolute ppm gaps — no IEEE surface.
  * Envelope: `c·10⁶` must fit a signed 64-bit value, i.e. per-source
  * token counts up to ~9.2·10¹² — beyond that, drop the scale to
  * per-2¹⁶ (the engines diverge past the bound: Spark ANSI raises,
  * DuckDB widens to HUGEINT).
  *
  * Scale shape: ONE corpus-scale exchange — the (source, term) count
  * aggregate (map-side partial, then term×source-keyed). The top-`v`
  * selection is a TakeOrderedAndProject over the term rollup; the
  * dense (source × vocab) frequency grid is `|sources|·v` rows built
  * from broadcast joins, and the pairwise distance is a self-join of
  * that grid — `|sources|²·v` arithmetic on a frame that never grows
  * with the corpus.
  *
  * Reference scope note: kbrowse has no distribution-diff surface —
  * this op extends the engine toward training-data preparation per
  * the build brief. */
object SourceDrift {

  /** (src_a, src_b, l1_ppm) for every unordered source pair
    * (src_a < src_b), over the corpus-wide top-`v` term vocabulary
    * (count DESC, term ASC — the q79 tie-break). */
  def termDrift(docs: DataFrame, sourceCol: String, textCol: String,
      v: Int): DataFrame = {
    require(v > 0, s"vocabulary size must be positive: $v")
    GraftFunctions.register(docs.sparkSession)
    val st = Materialize.barrier(docs
      .select(col(sourceCol).as("source"),
        explode_outer(GraftFunctions.wordGrams(col(textCol), 1)).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("source", "term").agg(count(lit(1)).as("c")))
    val vocab = st.groupBy("term").agg(sum("c").as("ct"))
      .orderBy(col("ct").desc, col("term").asc).limit(v)
      .select("term")
    val ns = st.groupBy("source").agg(sum("c").as("n"))
    // Barriered (r22 second wave): grid feeds BOTH arms of the pairwise
    // self-join below — unmaterialized, each arm re-ran the ns × vocab
    // × st grid join over the (corpus-vocab-scale) st cache (the sf0.1
    // profile showed the join's two exchanges each written twice,
    // byte-identical). The frame is |sources|·v rows by contract.
    val grid = Materialize.barrier(ns.crossJoin(broadcast(vocab))
      .join(st, Seq("source", "term"), "left")
      .select(col("source"), col("term"),
        expr("coalesce(c, 0L) * 1000000L DIV n").as("f")))
    val a = grid.select(col("source").as("src_a"), col("term"),
      col("f").as("f_a"))
    val b = grid.select(col("source").as("src_b"), col("term"),
      col("f").as("f_b"))
    a.join(b, a("term") === b("term") && col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b")
      .agg(sum(abs(col("f_a") - col("f_b"))).as("l1_ppm"))
      .orderBy("src_a", "src_b")
  }

  /** The corpus reference distribution for [[driftFromReference]]:
    * the top-`v` terms with their ppm frequencies against the TOTAL
    * corpus token count (the [[termDrift]] normalization). A `v`-row
    * bounded driver collect — the train-time artifact the stream
    * monitor probes, frozen like q77's weights and q92's filter. */
  def referencePpm(docs: DataFrame, textCol: String, v: Int)
      : Seq[(String, Long)] = {
    require(v > 0, s"vocabulary size must be positive: $v")
    GraftFunctions.register(docs.sparkSession)
    val tc = docs
      .select(explode_outer(GraftFunctions.wordGrams(col(textCol), 1)).as("term"))
      .filter(col("term").isNotNull)
      .groupBy("term").agg(count(lit(1)).as("c"))
    tc.crossJoin(broadcast(tc.agg(sum("c").as("n"))))
      .orderBy(col("c").desc, col("term").asc).limit(v)
      .select(col("term"), expr("c * 1000000L DIV n").as("f_ref"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** One-row drift report of a document batch against a frozen
    * [[referencePpm]] vector: (n_docs, n_tokens, l1_ppm). Reference
    * terms absent from the batch contribute their full reference mass;
    * batch terms outside the reference vocabulary count only toward
    * the normalizer — the [[termDrift]] top-`v` restriction. An empty
    * batch reports l1 = Σ f_ref. */
  def driftFromReference(batch: DataFrame, textCol: String,
      ref: Seq[(String, Long)]): DataFrame = {
    require(ref.nonEmpty, "reference distribution must be non-empty")
    val spark = batch.sparkSession
    import spark.implicits._
    GraftFunctions.register(spark)
    val refDf = ref.toDF("term", "f_ref")
    val toks = batch
      .select(explode_outer(GraftFunctions.wordGrams(col(textCol), 1)).as("term"))
      .filter(col("term").isNotNull)
    val tot = batch.agg(count(lit(1)).as("n_docs"))
      .crossJoin(toks.agg(count(lit(1)).as("n_tokens")))
    val l1 = broadcast(refDf)
      .join(toks.groupBy("term").agg(count(lit(1)).as("c")), Seq("term"), "left")
      .crossJoin(broadcast(tot.select(col("n_tokens").as("__n"))))
      .select((abs(expr("coalesce(c, 0L) * 1000000L DIV greatest(__n, 1L)")
        - col("f_ref"))).as("gap"))
      .agg(coalesce(sum("gap"), lit(0L)).as("l1_ppm"))
    tot.crossJoin(l1)
  }

  /** DuckDB oracle for [[termDrift]] over table `documents`. */
  def oracleSql(v: Int): String =
    s"""WITH toks AS (
       |  SELECT source, unnest(regexp_extract_all(lower(text), '\\S+')) AS term
       |  FROM documents),
       |st AS (
       |  SELECT source, term, CAST(count(*) AS BIGINT) AS c
       |  FROM toks GROUP BY 1, 2),
       |vocab AS (
       |  SELECT term FROM (
       |    SELECT term, CAST(sum(c) AS BIGINT) AS ct FROM st GROUP BY term)
       |  ORDER BY ct DESC, term ASC LIMIT $v),
       |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM st GROUP BY 1),
       |grid AS (
       |  SELECT ns.source, v.term,
       |    coalesce(st.c, 0) * 1000000 // ns.n AS f
       |  FROM ns CROSS JOIN vocab v
       |  LEFT JOIN st ON st.source = ns.source AND st.term = v.term)
       |SELECT a.source AS src_a, b.source AS src_b,
       |  CAST(sum(abs(a.f - b.f)) AS BIGINT) AS l1_ppm
       |FROM grid a JOIN grid b
       |  ON a.term = b.term AND a.source < b.source
       |GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin
}
