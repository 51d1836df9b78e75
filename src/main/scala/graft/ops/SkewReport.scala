package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join-skew diagnostics: the per-key load profile that decides BETWEEN
  * the engine's skew tools — broadcast (small side), [[SaltedJoin]] (few
  * known hot keys; the report's `salts` column is the fan-out to pass),
  * or AQE's runtime splitting (long skewed tail). At 100 TB a shuffle
  * join's wall-clock is its hottest task, and the hottest task is the
  * hottest key — this op finds those keys BEFORE the join runs, from one
  * counter-sized aggregation (the profile every salting decision is
  * implicitly made from, made explicit and cheap).
  *
  * Scale shape: one groupBy(key) with map-side combine collapses the
  * table to ≤ |keys| counter rows; the grand total is a 1-row broadcast
  * (never a corpus-wide window); only keys exceeding `targetRowsPerTask`
  * survive the filter, so the result is hot-keys-sized. All arithmetic
  * is exact integers plus one double division for `share`, so the report
  * is bit-identical across engines and partitionings.
  */
object SkewReport {

  /** Keys whose row count exceeds `targetRowsPerTask`, with their corpus
    * share and the [[SaltedJoin]] fan-out (`ceil(n / target)`, exact
    * integer form) that would bound each salted task at ≤ target rows.
    * Hottest first (n desc, key asc). */
  def keyProfile(df: DataFrame, keyCol: String,
      targetRowsPerTask: Long): DataFrame =
    profileFromCounts(
      df.groupBy(col(keyCol).as("key")).agg(count(lit(1)).as("n")),
      targetRowsPerTask)

  /** The counter→profile half of [[keyProfile]], split out so MERGED
    * counters can feed it too (the streaming monitor sums per-batch
    * (key, n) rows — counts are additive, so the profile of the union
    * is the profile of the summed counters; StreamSkewSpec pins it).
    * `counts` is a (key, n) frame; rows for the same key are summed. */
  def profileFromCounts(counts: DataFrame,
      targetRowsPerTask: Long): DataFrame = {
    require(targetRowsPerTask > 0,
      s"targetRowsPerTask must be positive: $targetRowsPerTask")
    val c = counts.groupBy("key").agg(sum("n").as("n"))
    val totals = c.agg(sum("n").as("total"))
    c.crossJoin(broadcast(totals))
      .filter(col("n") > targetRowsPerTask)
      .select(col("key"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"),
        expr(s"CAST(((n - 1) div $targetRowsPerTask) + 1 AS INT)").as("salts"))
      .orderBy(col("n").desc, col("key"))
  }

  /** The TWO-SIDED profile: for an equi-join `left.keyLeft =
    * right.keyRight`, the per-key OUTPUT row estimate `n_l · n_r` —
    * the actual join-explosion diagnostic ([[keyProfile]] sees one
    * table's skew; a join's hottest task is the key whose COUNT
    * PRODUCT is largest, which neither side's profile shows alone).
    * Returns keys whose estimated output exceeds `targetRowsPerTask`,
    * with both side counts and the [[SaltedJoin]] fan-out that bounds a
    * salted task's OUTPUT at ≤ target (salting splits the left side,
    * so each salt's output is `(n_l/salts)·n_r`). Hottest first.
    *
    * Scale shape: two counter-sized groupBys + an inner join of the
    * two COUNT tables (keys-sized, slim) — the fact tables are read
    * once each and never joined. Output-estimate arithmetic is exact
    * integers, and the product is GUARDED: a key whose n_l·n_r exceeds
    * BIGINT raises loudly (the [[graft.pipeline.TrigramModel]] idiom)
    * instead of wrapping negative and silently dropping the hottest
    * key from the profile. */
  def joinProfile(left: DataFrame, right: DataFrame, keyLeft: String,
      keyRight: String, targetRowsPerTask: Long): DataFrame = {
    require(targetRowsPerTask > 0,
      s"targetRowsPerTask must be positive: $targetRowsPerTask")
    val l = left.groupBy(col(keyLeft).as("key")).agg(count(lit(1)).as("n_left"))
    val r = right.groupBy(col(keyRight).as("key")).agg(count(lit(1)).as("n_right"))
    l.join(r, Seq("key"))
      // Guarded multiply (ADVICE r16): under non-ANSI Spark an
      // overflowed product wraps NEGATIVE, the `> target` filter then
      // silently DROPS the hottest key — the one that needed salting
      // most. A key too hot for BIGINT is a loud error, not a skip.
      .withColumn("out_rows",
        when(expr(s"n_left > ${Long.MaxValue}L div n_right"), expr(
          "CAST(raise_error(CONCAT('joinProfile out_rows overflows BIGINT " +
            "for key ', CAST(key AS STRING))) AS BIGINT)"))
          .otherwise(col("n_left") * col("n_right")))
      .filter(col("out_rows") > targetRowsPerTask)
      .select(col("key"), col("n_left"), col("n_right"), col("out_rows"),
        expr(s"CAST(((out_rows - 1) div $targetRowsPerTask) + 1 AS INT)")
          .as("salts"))
      .orderBy(col("out_rows").desc, col("key"))
  }

  /** DuckDB oracle for [[joinProfile]] over an `events` self-join on
    * `user_id`. */
  def joinProfileOracleSql(keyCol: String = "user_id",
      targetRowsPerTask: Long = 1000L): String =
    s"""WITH c AS (
       |  SELECT $keyCol AS key, count(*) AS n FROM events GROUP BY 1),
       |j AS (SELECT l.key, l.n AS n_left, r.n AS n_right,
       |    l.n * r.n AS out_rows
       |  FROM c l JOIN c r USING (key))
       |SELECT key, n_left, n_right, out_rows,
       |  CAST(((out_rows - 1) // $targetRowsPerTask) + 1 AS INT) AS salts
       |FROM j WHERE out_rows > $targetRowsPerTask
       |ORDER BY out_rows DESC, key""".stripMargin

  /** DuckDB oracle for [[keyProfile]] over table `events`, key
    * `event_type`. */
  def oracleSql(keyCol: String = "event_type",
      targetRowsPerTask: Long = 100L): String =
    s"""WITH c AS (
       |  SELECT $keyCol AS key, count(*) AS n FROM events GROUP BY 1),
       |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
       |SELECT key, n, CAST(n AS DOUBLE) / CAST(total AS DOUBLE) AS share,
       |  CAST(((n - 1) // $targetRowsPerTask) + 1 AS INT) AS salts
       |FROM c CROSS JOIN t
       |WHERE n > $targetRowsPerTask
       |ORDER BY n DESC, key""".stripMargin
}
