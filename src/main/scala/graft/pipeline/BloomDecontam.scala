package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter benchmark decontamination: the approximate-membership
  * variant of [[Decontam]]. Where q42 broadcasts the EXACT set of eval
  * n-gram fingerprints (a table of longs — ~400 MB at the contract
  * bound), this op compresses the eval side to a partitioned Bloom
  * filter — [[Slices]] independent bit arrays of 2^[[SliceBits]] bits,
  * indexed by disjoint bit slices of the same 63-bit gram fingerprint
  * ([[graft.functions.WordGramHashesExpr]]) — and reports, per corpus
  * document, how many of its distinct grams the filter ACCEPTS. A gram
  * is accepted iff all [[Slices]] of its positions are set; acceptance
  * overcounts true overlap with probability ~(fill rate)^[[Slices]] and
  * never undercounts — the production triage semantics (Bloom-flagged
  * docs go to the exact q42 check; clean docs skip it).
  *
  * Scale shape: the filter is 3 × 16 KiB of bits REGARDLESS of eval-set
  * size — this is the op that stays broadcastable when the eval suite
  * outgrows q42's exact-set contract. The logical plan carries the set
  * bits as a distinct (slice, pos) table (≤ 3·2^17 rows, broadcast); the
  * corpus side explodes each distinct gram into its 3 positions map-side,
  * probes the broadcast, and only matched positions reach the
  * per-(doc, gram) acceptance count — the only shuffles after the
  * per-doc gram dedup carry (doc_id, gram_fp) pairs. On a cluster the
  * (slice, pos) table IS the bitmap in its join-relation form: the
  * broadcast hash relation Catalyst builds from it is the dense bit
  * array, built once and probed codegen'd, with no driver-side
  * collect in the plan.
  *
  * Determinism: positions are pure bit arithmetic on the nonnegative
  * 63-bit fingerprint (`fp & m`, `(fp >> 17) & m`, `(fp >> 34) & m`) —
  * no transcendentals, no platform hashing — so the DuckDB oracle
  * ([[oracleSql]]) reproduces acceptance bit-exactly.
  */
object BloomDecontam {

  /** Independent hash functions = disjoint fingerprint bit slices. */
  val Slices: Int = 3

  /** log2(bits per slice): 2^17 bits = 16 KiB per slice. At the q42
    * contract bound (50M distinct eval grams) a REAL deployment sizes
    * slices up (SliceBits ~27 for a ~1% accept rate); 17 keeps the
    * fixture's accept rate visible (nonzero false positives at sf≥0.01,
    * exercised by BloomDecontamSpec) while the structure is
    * size-independent. */
  val SliceBits: Int = 17

  private val mask = (1L << SliceBits) - 1

  /** The (slice, pos) pairs of `fp` — which bit each of the [[Slices]]
    * hash functions sets/probes. */
  private def positions(fp: Column): Column =
    array((0 until Slices).map(i =>
      struct(lit(i).as("slice"),
        shiftright(fp, i * SliceBits).bitwiseAND(lit(mask)).as("pos"))): _*)

  /** Per-document Bloom acceptance report over the non-eval corpus:
    * (doc_id, n_grams, n_bloom_hits) where `n_grams` counts the doc's
    * distinct `n`-gram fingerprints and `n_bloom_hits` those the eval
    * filter accepts. Every non-eval doc with ≥ 1 gram appears (zero-hit
    * docs report 0 — the annotation form, unlike q42's matches-only
    * report). `evalPred` carries the same held-out-set contract as
    * [[Decontam.overlapReport]] but no size bound: the filter cannot
    * outgrow its 3·2^17 bits. */
  def bloomReport(docs: DataFrame, idCol: String, textCol: String,
      evalPred: Column, n: Int): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val gramHashes = graft.functions.GraftFunctions.wordGramHashes(col(textCol), n)

    // The SET BITS: distinct (slice, pos) over the eval slice's grams.
    // ≤ 3·2^17 rows no matter the eval size — always broadcastable.
    val bits = docs.filter(evalPred)
      .select(explode_outer(gramHashes).as("fp"))
      .filter(col("fp").isNotNull)
      .select(explode(positions(col("fp"))).as("sp"))
      .select(col("sp.slice").as("slice"), col("sp.pos").as("pos"))
      .distinct()

    // Corpus side: distinct grams per doc, materialized once — BOTH the
    // per-doc totals and the acceptance count read it (TfIdf's
    // single-scan convention; without the barrier Catalyst plans two
    // independent scan→tokenize→explode subtrees).
    val grams = graft.ops.Materialize.barrier(
      docs.filter(!evalPred)
        .select(col(idCol).as("doc_id"), explode_outer(gramHashes).as("fp"))
        .filter(col("fp").isNotNull)
        .distinct())

    val accepted = grams
      .select(col("doc_id"), col("fp"), explode(positions(col("fp"))).as("sp"))
      .select(col("doc_id"), col("fp"),
        col("sp.slice").as("slice"), col("sp.pos").as("pos"))
      .join(broadcast(bits), Seq("slice", "pos"))
      .groupBy("doc_id", "fp")
      .agg(count(lit(1)).as("n_set"))
      .filter(col("n_set") === Slices)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bloom_hits"))

    grams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      .join(accepted, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_bloom_hits"), lit(0L)).as("n_bloom_hits"))
      .orderBy("doc_id")
  }

  /** The filter as a DEPLOYMENT ARTIFACT: [[Slices]] packed bit arrays
    * (2^[[SliceBits]] bits = 2048 longs each, 48 KiB total), built once
    * from the eval suite. This is the form the streaming admission
    * (`StreamBloomSpec`) freezes at stream start — and the
    * zero-join batch probe [[bloomReportWith]] consumes: where
    * [[bloomReport]] carries the set bits as a broadcast join relation,
    * the packed form rides the plan as three LITERAL arrays, so the
    * probe is a single codegen'd scan with no join at all. The distinct
    * (slice, pos) aggregation runs in Spark (eval-sized work stays
    * distributed); only the ≤ 3·2^17 set-bit rows ever reach the
    * driver. */
  def packedFilter(evalDocs: DataFrame, textCol: String,
      n: Int): Array[Array[Long]] = {
    graft.functions.GraftFunctions.register(evalDocs.sparkSession)
    val gramHashes =
      graft.functions.GraftFunctions.wordGramHashes(col(textCol), n)
    val packed = Array.fill(Slices)(new Array[Long](1 << (SliceBits - 6)))
    evalDocs.select(explode_outer(gramHashes).as("fp"))
      .filter(col("fp").isNotNull)
      .select(explode(positions(col("fp"))).as("sp"))
      .select(col("sp.slice").as("slice"), col("sp.pos").as("pos"))
      .distinct()
      .collect()
      .foreach { r =>
        val slice = r.getInt(0); val pos = r.getLong(1)
        packed(slice)((pos >> 6).toInt) |= 1L << (pos & 63)
      }
    packed
  }

  /** True iff the packed filter accepts `fp` (all [[Slices]] probed bits
    * set) — pure bit arithmetic against three literal arrays, codegen'd,
    * bit-identical to the join-relation probe in [[bloomReport]]. */
  def acceptExpr(fp: Column, packed: Array[Array[Long]]): Column = {
    require(packed.length == Slices &&
      packed.forall(_.length == 1 << (SliceBits - 6)),
      s"packed filter must be $Slices x ${1 << (SliceBits - 6)} longs")
    (0 until Slices).map { i =>
      val pos = shiftright(fp, i * SliceBits).bitwiseAND(lit(mask))
      val word = element_at(typedLit(packed(i).toSeq),
        (shiftright(pos, 6) + lit(1)).cast("int"))
      call_function("shiftright", word, pos.bitwiseAND(lit(63L)).cast("int"))
        .bitwiseAND(lit(1L)) === lit(1L)
    }.reduce(_ && _)
  }

  /** [[bloomReport]]'s per-document acceptance under a pre-built packed
    * filter: same (doc_id, n_grams, n_bloom_hits) rows, but the probe is
    * ONE scan → per-doc gram distinct → one aggregate — no join, no
    * broadcast, no materialization (single consumer). The shape both the
    * streaming admission and a stored-filter batch sweep run. */
  def bloomReportWith(docs: DataFrame, idCol: String, textCol: String,
      n: Int, packed: Array[Array[Long]]): DataFrame = {
    graft.functions.GraftFunctions.register(docs.sparkSession)
    val gramHashes =
      graft.functions.GraftFunctions.wordGramHashes(col(textCol), n)
    docs.select(col(idCol).as("doc_id"), explode_outer(gramHashes).as("fp"))
      .filter(col("fp").isNotNull)
      .distinct()
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(acceptExpr(col("fp"), packed), 1L).otherwise(0L))
          .as("n_bloom_hits"))
      .orderBy("doc_id")
  }

  /** DuckDB oracle for [[bloomReport]] over table `documents`:
    * `evalPredSql` renders the SAME predicate passed as `evalPred`. The
    * gram fingerprints walk [[graft.oracle.Duck.gramHash63Sql]] (the
    * native expression's exact 63-bit fold) and the slice/position
    * arithmetic is the same nonnegative shift-and-mask. */
  def oracleSql(evalPredSql: String, n: Int): String = {
    val m = mask
    val pos = (i: Int) => s"(fp >> ${i * SliceBits}) & $m"
    val posList = (0 until Slices).map(pos).mkString("[", ", ", "]")
    val sliceList = (0 until Slices).mkString("[", ", ", "]")
    s"""WITH toks AS (
       |  SELECT doc_id, regexp_extract_all(lower(text), '\\S+') AS t,
       |         ($evalPredSql) AS is_eval
       |  FROM documents),
       |grams0 AS (
       |  SELECT doc_id, is_eval,
       |    ${graft.oracle.Duck.gramHash63Sql("gram")} AS fp
       |  FROM (
       |    SELECT doc_id, is_eval,
       |      unnest(list_transform(range(1, greatest(len(t) - ${n - 1}, 0) + 1),
       |        i -> array_to_string(t[i:i+${n - 1}], ' '))) AS gram
       |    FROM toks)),
       |grams AS (SELECT DISTINCT doc_id, is_eval, fp FROM grams0),
       |bits AS (
       |  SELECT DISTINCT slice, pos FROM (
       |    SELECT unnest($sliceList) AS slice, unnest($posList) AS pos
       |    FROM grams WHERE is_eval)),
       |cpos AS (
       |  SELECT doc_id, fp, unnest($sliceList) AS slice, unnest($posList) AS pos
       |  FROM grams WHERE NOT is_eval),
       |hits AS (
       |  SELECT doc_id, fp FROM cpos JOIN bits USING (slice, pos)
       |  GROUP BY doc_id, fp HAVING count(*) = ${Slices}),
       |totals AS (
       |  SELECT doc_id, count(*) AS n_grams FROM grams
       |  WHERE NOT is_eval GROUP BY doc_id)
       |SELECT t.doc_id, t.n_grams,
       |       coalesce(h.n, 0) AS n_bloom_hits
       |FROM totals t LEFT JOIN (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM hits GROUP BY doc_id) h
       |  USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }
}
