package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.core.{Murmur2, QueryOptions, Tables}
import graft.log.{LogQuery, RecordLog}
import graft.ops.{AsofJoin, IntervalJoin}
import graft.oracle.Duck

/** The canonical conformance queries Q1–Q18 (FIXTURES.md §C): every
  * reference operator (SURVEY.md §2) exercised end-to-end over the parquet
  * record-log stand-in, each paired with DuckDB oracle SQL the driver
  * hash-compares at sf0.01.
  *
  * Output discipline (driver contract):
  *  - every column aliased identically in Spark and SQL;
  *  - deterministic total ordering in both;
  *  - no raw DOUBLE aggregation — sums go through DECIMAL (exact, order-
  *    independent) and are cast back to DOUBLE (exact-to-nearest, identical
  *    in both engines), so parallel aggregation order can never flip a bit;
  *  - timestamps surface as epoch-millis BIGINT, never raw TIMESTAMP.
  */
object Conformance {

  private def base(topics: Seq[String] = Seq("events")) =
    QueryOptions(bootstrapServers = "sandbox:9092", topics = topics)

  private def rec(spark: SparkSession, sf: String, opts: QueryOptions): DataFrame =
    LogQuery.canonical(LogQuery.results(spark, sf, opts))

  /** Q11 window bounds: [2024-01-05, 2024-01-15) UTC in epoch millis —
    * inside the events fixture's ts range at every scale factor. */
  private val T0 = 1704412800000L
  private val T1 = 1705276800000L

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Q1 S1 bounded scan: full events log through the 6-field projection.
    "q01_scan" -> ((s, sf) => rec(s, sf, base())),

    // Q2 S2 multi-topic union (events + the click-slice topic).
    "q02_multi_topic" -> ((s, sf) => rec(s, sf, base(Seq("events", "clicks")))),

    // Q3 S5 offset-range probe: per-partition earliest/latest snapshot.
    "q03_offset_bounds" -> ((s, sf) =>
      RecordLog.events(s, sf)
        .groupBy("topic", "partition")
        .agg(min("offset").as("earliest"), (max("offset") + 1).as("latest"))
        .orderBy("topic", "partition")),

    // Q4 P2 key regex, full-match anchored (`re-matches` parity).
    "q04_key_regex" -> ((s, sf) => rec(s, sf, base().copy(keyRegex = Some("1[0-3]")))),

    // Q5 P3 conjunctive key+value regex.
    "q05_key_val_regex" -> ((s, sf) => rec(s, sf,
      base().copy(keyRegex = Some("1.*"), valRegex = Some(".*\"k\": 8.*")))),

    // Q6 P5 try-parse-JSON → variant; extraction of props.k.
    "q06_json_variant" -> ((s, sf) =>
      RecordLog.events(s, sf).select(
          col("topic"), col("partition"), col("offset"), col("key"),
          expr("variant_get(try_parse_json(value), '$.k', 'bigint')").as("k_num"),
          expr("variant_get(try_parse_json(value), '$.k', 'string')").as("k_str"))
        .orderBy("topic", "partition", "offset")),

    // Q7 P6 progress sampler: results ∪ offset-heartbeat rows.
    // Heartbeats sample the pruned+windowed stream (documented divergence
    // from the reference, which samples pre-window — VERDICT r2 item 9;
    // with no window configured, as here, the two agree).
    "q07_progress" -> ((s, sf) =>
      LogQuery.canonical(LogQuery.stream(s, sf, base().copy(printOffset = Some(100L))))),

    // Q8 A1 explicit partition pruning.
    "q08_partitions" -> ((s, sf) => rec(s, sf, base().copy(partitions = Some(Seq(3, 5))))),

    // Q8b: the same pruned scan over the topic's frame
    // (`consumedFrom`, the binding point for any record frame) —
    // directory-level partition pruning on the archive.
    "q08b_archive_partitions" -> ((s, sf) => {
      val o = base().copy(partitions = Some(Seq(3, 5)))
      LogQuery.canonical(LogQuery.resultsFrom(
        LogQuery.consumedFrom(RecordLog.events(s, sf), o), o))
    }),

    // Q9 A2 murmur2 default-partition pruning (key-regex as literal key).
    "q09_default_partition" -> ((s, sf) => rec(s, sf,
      base().copy(defaultPartition = true, keyRegex = Some("13")))),

    // Q10 A3 relative-offset seek, positive (earliest+1) and negative (latest-5).
    "q10_rel_offset_pos" -> ((s, sf) => rec(s, sf, base().copy(relativeOffset = Some(1L)))),
    "q10_rel_offset_neg" -> ((s, sf) => rec(s, sf, base().copy(relativeOffset = Some(-5L)))),

    // Q11 L5 resurrected timestamp window [T0, T1).
    "q11_ts_window" -> ((s, sf) => rec(s, sf,
      base().copy(startTimestamp = Some(T0), stopTimestamp = Some(T1)))),

    // Q19 set operations (SURVEY §2.6): INTERSECT / EXCEPT with their
    // SQL distinct-set semantics (union is exercised by Q2). Customers
    // with/without event activity — non-empty both ways at every SF.
    "q19_intersect" -> ((s, sf) =>
      Tables.load(s, sf, "customer").select(col("c_custkey").as("id"))
        .intersect(Tables.load(s, sf, "events").select(col("user_id").as("id")))
        .orderBy("id")),
    "q19_except" -> ((s, sf) =>
      Tables.load(s, sf, "customer").select(col("c_custkey").as("id"))
        .except(Tables.load(s, sf, "events").select(col("user_id").as("id")))
        .orderBy("id")),

    // Q12 join: orders ⋈ customer, revenue by market segment.
    "q12_join" -> ((s, sf) =>
      Tables.load(s, sf, "orders")
        .join(Tables.load(s, sf, "customer"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("revenue"))
        .orderBy("c_mktsegment")),

    // Salted skew join (r14): q12's join shape through the explicit
    // salting rewrite (ops/SaltedJoin — the static-plan hot-key tool
    // beside AQE's adaptive splitting), oracle-checked against the
    // plain SQL join: salting must be answer-invisible.
    "q109_salted_join" -> ((s, sf) =>
      graft.ops.SaltedJoin.join(
          Tables.load(s, sf, "lineitem").select("l_orderkey", "l_quantity"),
          Tables.load(s, sf, "orders").select("o_orderkey", "o_orderpriority"),
          keyLeft = "l_orderkey", keyRight = "o_orderkey", salts = 8)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
        .orderBy("o_orderpriority")),

    // Skew diagnostics (r16): the per-key load profile that picks
    // between broadcast / SaltedJoin / AQE splitting — hot keys, their
    // corpus share, and the exact salt fan-out that bounds a salted
    // task at the target. One counter-sized aggregation.
    "q139_skew_report" -> ((s, sf) =>
      graft.ops.SkewReport.keyProfile(
        Tables.load(s, sf, "events"), "event_type",
        targetRowsPerTask = 100L)),

    // Profile-driven differential salting (r16): q145's measured
    // fan-outs drive q109's rewrite — hot keys split by exactly the
    // salts that bound their task output, cold keys untouched (no
    // blanket right-side replication). Answer-invisible: the oracle
    // is the plain SQL join.
    "q146_auto_salted_join" -> ((s, sf) =>
      graft.ops.SaltedJoin.autoJoin(
          Tables.load(s, sf, "lineitem").select("l_orderkey", "l_quantity"),
          Tables.load(s, sf, "orders").select("o_orderkey", "o_orderpriority"),
          keyLeft = "l_orderkey", keyRight = "o_orderkey",
          targetRowsPerTask = 5L)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
        .orderBy("o_orderpriority")),

    // Two-sided join profile (r16): per-key OUTPUT estimate n_l·n_r
    // for an equi-join — the join-explosion diagnostic q139's single
    // -table profile can't see; two counter aggregates + a keys-sized
    // join of the count tables, fact tables never joined.
    "q145_join_profile" -> ((s, sf) => {
      val ev = Tables.load(s, sf, "events")
      graft.ops.SkewReport.joinProfile(ev, ev, "user_id", "user_id",
        targetRowsPerTask = 1000L)
    }),

    // Bucketed co-located join (r14): both fact tables land bucketed by
    // the join key (the landing-time knob the brief names for
    // co-located joins), so the join itself needs NO exchange on either
    // side — PlanAuditSpec asserts the only exchanges are the
    // post-join rollup's. Oracle = the plain SQL join.
    "q111_bucketed_join" -> ((s, sf) => {
      val pre = s"graft_q111_${Tables.fixtureKey(sf, "lineitem")}"
      // _or is written last: its presence implies both tables landed.
      if (!s.catalog.tableExists(s"${pre}_or")) {
        graft.pipeline.CorpusWriter.dropOrphanedLocation(s, s"${pre}_li")
        graft.pipeline.CorpusWriter.dropOrphanedLocation(s, s"${pre}_or")
        Tables.load(s, sf, "lineitem").select("l_orderkey", "l_quantity")
          .write.bucketBy(16, "l_orderkey").sortBy("l_orderkey")
          .format("parquet").saveAsTable(s"${pre}_li")
        Tables.load(s, sf, "orders").select("o_orderkey", "o_orderstatus")
          .write.bucketBy(16, "o_orderkey").sortBy("o_orderkey")
          .format("parquet").saveAsTable(s"${pre}_or")
      }
      s.table(s"${pre}_li").hint("merge")
        .join(s.table(s"${pre}_or"), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
            .as("sum_qty"))
        .orderBy("o_orderstatus")
    }),

    // Multi-format source round-trip (r14): the same event slice lands
    // once as ORC, CSV and JSON; the query reads all three back under
    // explicit schemas and reports per-type counts + exact id sums PER
    // FORMAT — a format that drops or mangles one row hash-mismatches
    // its column against the oracle (which computes each column from
    // the parquet truth).
    "q113_multi_format" -> ((s, sf) => {
      val dir = s"/tmp/graft-q113-${Tables.fixtureKey(sf, "events")}"
      val base = Tables.load(s, sf, "events").select("event_id", "event_type")
      // json is written LAST, so its _SUCCESS marker implies all three
      // formats landed completely; a crashed partial write rebuilds.
      if (!new java.io.File(s"$dir/json/_SUCCESS").exists()) {
        base.write.mode("overwrite").orc(s"$dir/orc")
        base.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
        base.write.mode("overwrite").json(s"$dir/json")
      }
      val schema = "event_id BIGINT, event_type STRING"
      def agg(df: org.apache.spark.sql.DataFrame, tag: String) =
        df.groupBy("event_type")
          .agg(count(lit(1)).as(s"n_$tag"), sum("event_id").as(s"s_$tag"))
      agg(s.read.orc(s"$dir/orc"), "orc")
        .join(agg(s.read.schema(schema).option("header", "true")
          .csv(s"$dir/csv"), "csv"), Seq("event_type"))
        .join(agg(s.read.schema(schema).json(s"$dir/json"), "json"),
          Seq("event_type"))
        .orderBy("event_type")
    }),

    // Q13 aggregation: count / exact distinct / decimal-exact sum.
    "q13_agg" -> ((s, sf) =>
      Tables.load(s, sf, "events")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
        .orderBy("event_type")),

    // Q14 window functions: row_number + lag per user over event time.
    "q14_window_fn" -> ((s, sf) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      Tables.load(s, sf, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          row_number().over(w).cast("long").as("rn"),
          lag("value", 1).over(w).as("prev_value"))
        .orderBy("event_id")
    }),

    // PIVOT (r16): the wide-format reshaping of the aggregation
    // surface — one groupBy + a PINNED pivot value list (never the
    // distinct-scan pivot: at 100 TB the value list is a contract, not
    // a discovery pass), so it stays one exchange like any groupBy.
    // Oracle: the explicit CASE-per-column rendering.
    "q141_pivot" -> ((s, sf) =>
      Tables.load(s, sf, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double"))
        .withColumnRenamed("F", "qty_f")
        .withColumnRenamed("O", "qty_o")
        .orderBy("flag")),

    // Rolling window frame (r16): ROWS BETWEEN 2 PRECEDING AND CURRENT
    // ROW — the sliding-frame surface beside q14's offset functions.
    // The summand lifts to exact longs (floor(value·1000)) so the
    // frame sum is order-exact in both engines (the no-raw-double
    // aggregation rule applied to sliding frames).
    "q142_rolling_window" -> ((s, sf) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      Tables.load(s, sf, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 1000).as("v_mill"))
        .withColumn("roll_sum", sum(col("v_mill")).over(w))
        .withColumn("roll_n", count(lit(1)).over(w))
        .drop("ts")
        .orderBy("event_id")
    }),

    // UNPIVOT (r16): q141's inverse — wide metric columns melt to
    // (flag, metric, value) long format. Melting AFTER the aggregate
    // keeps the reshape over a #groups-sized frame (melting the fact
    // table first would double its row count for nothing).
    "q143_unpivot" -> ((s, sf) =>
      Tables.load(s, sf, "lineitem")
        .groupBy(col("l_returnflag").as("flag"))
        .agg(sum(col("l_quantity").cast(DecimalType(18, 2)))
            .cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)))
            .cast("double").as("sum_price"))
        .unpivot(Array(col("flag")),
          Array(col("sum_qty"), col("sum_price")), "metric", "value")
        .orderBy("flag", "metric")),

    // Hopping (sliding) event-time windows (r16): window(ts, 10 min,
    // 5 min) — each event lands in exactly d/s = 2 overlapping
    // windows, the streaming-aggregation surface q17's tumbling case
    // doesn't exercise. Epoch-aligned starts surface as millis.
    "q144_hopping" -> ((s, sf) =>
      Tables.load(s, sf, "events")
        .groupBy(window(col("ts"), "10 minutes", "5 minutes"),
          col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("w_start"),
          col("event_type"), col("n"))
        .orderBy("w_start", "event_type")),

    // Semi/anti joins (r16): the filtering join types the decontam/
    // admission family uses internally (anti-join landings), surfaced
    // as first-class SQL coverage. LEFT SEMI never replicates a left
    // row no matter how many events match (EXISTS semantics — the
    // right side needs no dedup pass), LEFT ANTI is its complement;
    // both shuffle only the slim key column on the right.
    "q147_semi_anti_join" -> ((s, sf) => {
      val cust = Tables.load(s, sf, "customer")
        .select("c_custkey", "c_mktsegment")
      val ev = Tables.load(s, sf, "events").select("user_id")
      def cnt(joinType: String, tag: String) =
        cust.join(ev, col("c_custkey") === col("user_id"), joinType)
          .groupBy("c_mktsegment").agg(count(lit(1)).as("n"))
          .withColumn("status", lit(tag))
      cnt("left_semi", "active").unionByName(cnt("left_anti", "inactive"))
        .select("c_mktsegment", "status", "n")
        .orderBy("c_mktsegment", "status")
    }),

    // Correlated subqueries (r16): two correlated scalar subqueries +
    // a correlated EXISTS through Spark's subquery decorrelation
    // (each rewrites to an aggregate + equi-join — no per-row
    // re-execution, the only plan shape that survives 100 TB). The
    // above-segment-average predicate multiplies out to exact integers
    // (cents × count > sum-of-cents): no division, so the boundary can
    // never flip on rounding.
    "q148_correlated_subquery" -> ((s, sf) => {
      Tables.load(s, sf, "customer").createOrReplaceTempView("customer_v")
      Tables.load(s, sf, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT c_mktsegment, count(*) AS n_above
        FROM customer_v c
        WHERE CAST(floor(c.c_acctbal * 100) AS BIGINT) *
            (SELECT count(*) FROM customer_v c2
             WHERE c2.c_mktsegment = c.c_mktsegment)
          > (SELECT sum(CAST(floor(c2.c_acctbal * 100) AS BIGINT))
             FROM customer_v c2 WHERE c2.c_mktsegment = c.c_mktsegment)
          AND EXISTS (SELECT 1 FROM orders_v o
                      WHERE o.o_custkey = c.c_custkey)
        GROUP BY c_mktsegment ORDER BY c_mktsegment""")
    }),

    // Ranking-function family + RANGE frame (r16): ntile / percent_rank
    // / cume_dist beside q14's row_number+lag, and a value-RANGE frame
    // beside q142's ROWS frame. The tiebreak (ts, event_id) makes the
    // order total, so the rank ratios are the same integer divisions in
    // both engines; the RANGE frame orders by exact longs
    // (floor(value·1000)) — a double range bound has no cross-engine
    // equality contract.
    "q149_ranking" -> ((s, sf) => {
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val rng = Window.partitionBy("user_id").orderBy(col("v_mill"))
        .rangeBetween(-500L, Window.currentRow)
      Tables.load(s, sf, "events")
        .select(col("event_id"), col("user_id"), col("ts"),
          floor(col("value") * 1000).as("v_mill"))
        .withColumn("quartile", ntile(4).over(ord).cast("long"))
        .withColumn("pr", percent_rank().over(ord))
        .withColumn("cd", cume_dist().over(ord))
        .withColumn("range_n", count(lit(1)).over(rng))
        .drop("ts")
        .orderBy("event_id")
    }),

    // Retention cohorts (r16): the product-analytics staple — users
    // bucketed by first-active day, distinct actives per (cohort,
    // day-offset). Three exact-integer stages: a per-user min (one
    // user-keyed shuffle), a (user, day) distinct, and a user-keyed
    // equi-join back — nothing corpus-wide, no window. Dates render as
    // strings (a DATE column has no cross-engine pandas dtype
    // contract; the STRING does).
    "q157_retention_cohorts" -> ((s, sf) => {
      val ev = Tables.load(s, sf, "events")
        .select(col("user_id"), to_date(col("ts")).as("d"))
      val firstDay = ev.groupBy("user_id").agg(min("d").as("cohort"))
      ev.distinct()
        .join(firstDay, "user_id")
        .groupBy(date_format(col("cohort"), "yyyy-MM-dd").as("cohort"),
          datediff(col("d"), col("cohort")).cast("long").as("offset_days"))
        .agg(countDistinct("user_id").as("n_active"))
        .orderBy("cohort", "offset_days")
    }),

    // Array higher-order functions (r16): transform / filter / exists /
    // aggregate / zip_with over the embedding arrays — the codegen'd
    // in-plan array algebra the ANN family builds on, surfaced as
    // first-class coverage. Everything lifts to exact longs first
    // (the no-raw-double rule), so each fold is order-exact.
    "q158_array_hof" -> ((s, sf) =>
      Tables.load(s, sf, "embeddings")
        .select(col("vec_id"), expr("transform(embedding, v -> " +
          "CAST(floor(CAST(v AS DOUBLE) * 1048576.0D + 0.5D) AS BIGINT))")
          .as("fx"))
        .select(col("vec_id"),
          expr("CAST(size(filter(fx, v -> v > 0L)) AS BIGINT)").as("n_pos"),
          expr("exists(fx, v -> abs(v) > 524288L)").as("has_big"),
          expr("aggregate(fx, 0L, (acc, v) -> acc + abs(v))").as("l1_fp"),
          expr("aggregate(zip_with(fx, fx, (a, b) -> a * b), 0L, " +
            "(acc, v) -> acc + v)").as("sumsq_fp"))
        .orderBy("vec_id")),

    // Window value functions (r16): first/last/nth_value over the full
    // partition frame plus an IGNORE NULLS running last — the
    // session-attribution window family beside q14's offsets and
    // q149's ranks. The (ts, event_id) tiebreak keeps the order total,
    // so every picked value is the same row in both engines.
    "q159_window_values" -> ((s, sf) => {
      val ord = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val full = ord.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)
      val before = ord.rowsBetween(Window.unboundedPreceding, -1)
      Tables.load(s, sf, "events")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .withColumn("first_et", first("event_type").over(full))
        .withColumn("last_et", last("event_type").over(full))
        .withColumn("second_et", nth_value(col("event_type"), 2).over(full))
        .withColumn("prev_nonclick",
          last(expr("nullif(event_type, 'click')"), ignoreNulls = true)
            .over(before))
        .drop("ts")
        .orderBy("event_id")
    }),

    // Ordered funnel conversion (r16): users who signed up, then
    // clicked AFTER the signup, then purchased AFTER that click — the
    // ORDER-sensitive conversion report (q138's stage flags are
    // per-row predicates; this one's stages are temporal). Each stage
    // is a predicate-pushed scan + a user-keyed equi-join + a min —
    // never a per-user sort or a corpus-wide window; timestamps
    // compare exactly (same parquet micros both engines).
    "q160_ordered_funnel" -> ((s, sf) => {
      val ev = Tables.load(s, sf, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val s1 = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("ts").as("t1"))
      val s2 = ev.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      def cnt(df: DataFrame, tag: String) =
        df.agg(count(lit(1)).as("n_users")).select(lit(tag).as("step"),
          col("n_users"))
      cnt(s1, "1_signup").unionAll(cnt(s2, "2_click_after"))
        .unionAll(cnt(s3, "3_purchase_after"))
        .orderBy("step")
    }),

    // Multiple DISTINCT aggregates (r16): two count-distincts beside a
    // plain count in ONE groupBy — the Expand-based rewrite (each input
    // row fans into one replica per distinct group), the SQL surface
    // dashboards lean on hardest. Day keys render as strings.
    "q161_multi_distinct" -> ((s, sf) =>
      Tables.load(s, sf, "events")
        .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"))
        .agg(countDistinct("user_id").as("n_users"),
          countDistinct("event_type").as("n_types"),
          count(lit(1)).as("n_events"))
        .orderBy("day")),

    // TPC-H Q5-shaped regional revenue (r16): the classic snowflake —
    // lineitem⋈orders⋈customer shuffle on their keys, supplier/nation/
    // region ride as BROADCAST dims (the same-nation constraint lands
    // inside the supplier broadcast join), date range pushed to the
    // orders scan. The canonical "did the optimizer get the big join
    // right" probe: at 100 TB the fact-fact joins shuffle once each and
    // no dim ever does.
    "q162_tpch_regional" -> ((s, sf) => {
      val ord = Tables.load(s, sf, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      Tables.load(s, sf, "lineitem")
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.load(s, sf, "customer"),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.load(s, sf, "supplier")),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.load(s, sf, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, sf, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_lines"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(22, 6))).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    }),

    // Join-strategy invariance (r16): the SAME logical join under the
    // three physical strategies Spark offers — MERGE, SHUFFLE_HASH,
    // BROADCAST — must agree row for row (the property that makes hint
    // tuning safe at 100 TB: strategy is a COST decision, never a
    // semantics one). PlanAuditSpec pins that all three hints actually
    // took effect.
    "q163_join_strategies" -> ((s, sf) => {
      def agg(strategy: String) =
        Tables.load(s, sf, "orders")
          .join(Tables.load(s, sf, "customer").hint(strategy),
            col("o_custkey") === col("c_custkey"))
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast(DecimalType(18, 2)))
              .cast("double").as("sum_price"))
          .withColumn("strategy", lit(strategy.toLowerCase))
      agg("MERGE").unionAll(agg("SHUFFLE_HASH")).unionAll(agg("BROADCAST"))
        .select("strategy", "c_mktsegment", "n_orders", "sum_price")
        .orderBy("strategy", "c_mktsegment")
    }),

    // Null-safe join semantics (r16): the same left join under `=`
    // (nulls never match — SQL three-valued logic drops them) and
    // `<=>` (null keys match the null group) — the semantics knob an
    // entity-resolution join flips when "unknown" is a real key.
    // EqualNullSafe is still a HASH-join key (no nested loop), which
    // is what makes it usable at 100 TB.
    "q166_null_safe_join" -> ((s, sf) => {
      val ev = Tables.load(s, sf, "events")
        .select(col("event_id"), expr("nullif(event_type, 'click')").as("k"))
      val agg = ev.groupBy("k").agg(count(lit(1)).as("n"))
        .withColumnRenamed("k", "k2")
      def cnt(nullSafe: Boolean, tag: String) = {
        val cond = if (nullSafe) col("k") <=> col("k2")
          else col("k") === col("k2")
        ev.join(agg, cond, "left")
          .agg(count(col("n")).as("n_matched"),
            sum(when(col("n").isNull, 1L).otherwise(0L)).as("n_unmatched"))
          .select(lit(tag).as("variant"), col("n_matched"),
            col("n_unmatched"))
      }
      cnt(nullSafe = false, "equals")
        .unionAll(cnt(nullSafe = true, "null_safe"))
        .orderBy("variant")
    }),

    // Multiset set ops (r17): EXCEPT ALL / INTERSECT ALL beside q19's
    // distinct forms — bag semantics keep MULTIPLICITY (n occurrences
    // minus/min-with m), the difference a dedup ledger actually needs
    // ("how many copies remain", not "does one remain"). Same
    // one-exchange plan family as the distinct forms.
    "q176_set_ops_all" -> ((s, sf) => {
      val l = Tables.load(s, sf, "events")
        .select(col("event_type").as("k"))
      val r = Tables.load(s, sf, "events")
        .filter(col("event_id") % 3 === 0)
        .select(col("event_type").as("k"))
      l.exceptAll(r).groupBy("k").agg(count(lit(1)).as("n"))
        .withColumn("op", lit("except_all"))
        .unionAll(l.intersectAll(r).groupBy("k")
          .agg(count(lit(1)).as("n"))
          .withColumn("op", lit("intersect_all")))
        .select("op", "k", "n")
        .orderBy("op", "k")
    }),

    // LATERAL correlated subquery in FROM (r17): per market segment,
    // the top-2 orders by price via a LATERAL per-row subquery — the
    // SQL-standard form of "top-N per group". Spark decorrelates it
    // into a ranked window join (never per-row re-execution — the only
    // plan shape that survives 100 TB), and DuckDB executes the same
    // text natively.
    "q177_lateral_topn" -> ((s, sf) => {
      Tables.load(s, sf, "customer").createOrReplaceTempView("g_cust")
      Tables.load(s, sf, "orders").createOrReplaceTempView("g_ord")
      s.sql(
        """SELECT s.c_mktsegment, t.o_orderkey, t.price
          |FROM (SELECT DISTINCT c_mktsegment FROM g_cust) s,
          |LATERAL (
          |  SELECT o.o_orderkey,
          |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
          |  FROM g_ord o JOIN g_cust c ON o.o_custkey = c.c_custkey
          |  WHERE c.c_mktsegment = s.c_mktsegment
          |  ORDER BY o.o_totalprice DESC, o.o_orderkey
          |  LIMIT 2) t
          |ORDER BY s.c_mktsegment, t.price DESC, t.o_orderkey""".stripMargin)
    }),

    // Q15 top-k: top-10 lineitem rows by discounted revenue.
    "q15_topk" -> ((s, sf) =>
      Tables.load(s, sf, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)),

    // Q16 scalar/date/string functions, TPC-H-Q1-style.
    "q16_scalar" -> ((s, sf) => {
      val qty = sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double")
      Tables.load(s, sf, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          qty.as("sum_qty"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_base"),
          sum((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .cast(DecimalType(22, 6))).cast("double").as("sum_disc"),
          (qty / count(lit(1))).as("avg_qty"))
        .withColumn("flag_status", concat_ws("/", col("l_returnflag"), col("l_linestatus")))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // Q17 tumbling 10-minute window agg (batch plan of the streaming query;
    // StreamingLog.tumblingReplay runs the SAME tumblingAgg plan under
    // Trigger.AvailableNow and the test asserts agreement).
    "q17_tumbling" -> ((s, sf) =>
      tumblingAgg(Tables.load(s, sf, "events")).orderBy("bucket_ms", "event_type")),

    // Q31 JSON-field math: variant extraction feeding an aggregate
    // (the props column is semi-structured; the engine treats it as data).
    "q31_json_math" -> ((s, sf) =>
      Tables.load(s, sf, "events")
        .select(col("event_type"),
          expr("variant_get(try_parse_json(props), '$.k', 'bigint')").as("k"))
        .groupBy("event_type")
        .agg(sum("k").as("sum_k"), max("k").as("max_k"),
          count(when(col("k") > 50, 1)).as("n_big"))
        .orderBy("event_type")),

    // Q29 stateful sessionization (batch form; the mapGroupsWithState
    // streaming form is asserted equal in SessionizeSpec).
    "q29_sessionize" -> ((s, sf) =>
      graft.streaming.Sessionize.batch(Tables.load(s, sf, "events"))),

    // Q30 ROLLUP: hierarchical aggregates with grouping indicators.
    "q30_rollup" -> ((s, sf) =>
      Tables.load(s, sf, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          grouping("l_returnflag").cast("int").as("g_flag"),
          grouping("l_linestatus").cast("int").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("status"),
          col("g_flag"), col("g_status"), col("n"), col("sum_qty"))
        .orderBy("g_flag", "g_status", "flag", "status")),

    // Fixed-grid value histogram (r14): the batch anchor of the
    // streaming quantile telemetry — exact bucket counts under the
    // same grid the stream monitor merges; one map-side-combined
    // exchange over ≤4096 groups.
    "q116_value_histogram" -> ((s, sf) =>
      Tables.load(s, sf, "events")
        .select(graft.streaming.StreamQuantiles.bucketExpr("value",
          graft.streaming.StreamQuantiles.Grid(0.0, 1024.0, 4096)).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // CUBE aggregation (r14): q30's ROLLUP widened to the full lattice —
    // all four grouping-set combinations of (returnflag, linestatus) in
    // one pass (Catalyst expands to a single Expand + one exchange).
    "q115_cube" -> ((s, sf) =>
      Tables.load(s, sf, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          grouping("l_returnflag").cast("int").as("g_flag"),
          grouping("l_linestatus").cast("int").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("status"),
          col("g_flag"), col("g_status"), col("n"), col("sum_qty"))
        .orderBy("g_flag", "g_status", "flag", "status")),

    // GROUPING SETS (r15): the general form q30's ROLLUP and q115's
    // CUBE are special cases of — an EXPLICIT non-lattice set list
    // ((flag, status), (flag), ()) that neither shorthand can express
    // (no status-only rollup). Still one Expand + one exchange.
    "q136_grouping_sets" -> ((s, sf) =>
      Tables.load(s, sf, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
          grouping("l_returnflag").cast("int").as("g_flag"),
          grouping("l_linestatus").cast("int").as("g_status"))
        .select(coalesce(col("l_returnflag"), lit("<all>")).as("flag"),
          coalesce(col("l_linestatus"), lit("<all>")).as("status"),
          col("g_flag"), col("g_status"), col("n"), col("sum_qty"))
        .orderBy("g_flag", "g_status", "flag", "status")),

    // Q95 banded interval self-join (r14): same-user events within ±1 h
    // of each other — the range-join shape done as an EQUI-join on
    // (key, time-bucket) with a 3-cell probe cover, never a per-key
    // nested loop; annotation form (zero-neighbor events report 0).
    "q95_interval_join" -> ((s, sf) =>
      IntervalJoin.nearbyCounts(Tables.load(s, sf, "events"), "user_id",
        "event_id", "ts", "event_type", deltaMs = 3600000L)),

    // Q18 as-of join: latest order (by o_orderdate) at or before each event,
    // per user — single-shuffle union-window plan, not a range-join explosion.
    "q18_asof_join" -> ((s, sf) => {
      val probe = Tables.load(s, sf, "events").select(col("event_id"), col("user_id"), col("ts"))
      val build = Tables.load(s, sf, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(max("o_orderkey").as("o_orderkey"))
        .withColumnRenamed("o_custkey", "user_id")
      AsofJoin.asof(probe, build, key = "user_id", probeTime = "ts",
          buildTime = "o_orderdate", tieBreak = "o_orderkey",
          attach = Seq("o_orderkey", "o_orderdate"))
        .select(col("event_id"), col("user_id"), col("o_orderkey"),
          unix_millis(col("o_orderdate")).as("order_date_ms"))
        .orderBy("event_id")
    }),

    // Q34 Avro round-trip KAT (the reference's third deserializer,
    // `kafka.clj:38`): events rows are Avro-encoded into the Confluent
    // wire format executor-side (mapPartitions — one encoder per batch,
    // the Multimodal library-call shape), then flow through the FULL
    // LogQuery pipeline with the file-registry stand-in: envelope parse →
    // GenericDatumReader decode → JSON rendering → anchored regex on the
    // rendering. The oracle predicts the rendering symbolically from the
    // raw columns, so encode+decode must be the exact identity.
    "q34_avro_roundtrip" -> ((s, sf) => {
      import s.implicits._
      val regDir = java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get("/tmp/graft-avro-registry-kat"))
      java.nio.file.Files.write(regDir.resolve("7.avsc"),
        AvroEventSchema.getBytes("UTF-8"))
      val schemaJson = AvroEventSchema
      val recs = Tables.load(s, sf, "events")
        .select(col("event_id"), col("user_id"), col("event_type"))
        .filter(col("event_id") < 500)
        .as[(Long, Long, String)]
        .mapPartitions { it =>
          val enc = new graft.functions.AvroDeserializer.WireEncoder(schemaJson, 7)
          it.map { case (id, uid, et) =>
            (id, uid.toString, enc.encode(enc.record("user_id" -> uid, "event_type" -> et)))
          }
        }
        .toDF("offset", "key_str", "value")
        .select(lit("events").as("topic"), lit(0).as("partition"), col("offset"),
          lit(0L).as("timestamp"), col("key_str").cast("binary").as("key"), col("value"))
      val o = base().copy(valueDeserializer = QueryOptions.AvroDeser,
        schemaRegistryUrl = Some(s"file:$regDir"),
        valRegex = Some(""".*"event_type": "(click|purchase)".*"""))
      LogQuery.canonical(LogQuery.resultsFrom(LogQuery.consumedFrom(recs, o), o))
        .select(col("offset").as("event_id"), col("key"), col("value"))
    }),

    // Q197 indexed log grep (r20): THE reference operation — regex
    // over the record log's values (`search.clj:74-81` re-finds the
    // compiled pattern per record, a full scan per query) — answered
    // through the stored trigram sidecar: candidates nominate from the
    // index, rlike confirms on candidate rows only. Record identity
    // packs (partition, offset) into one long; the index lands in two
    // landings (split by record parity) so the gate also proves
    // landing freshness against the oracle's own log re-derivation.
    "q197_indexed_log_grep" -> ((s, sf) => {
      val recs = RecordLog.events(s, sf).select(
        (col("partition").cast("long") * lit(1L << 40) + col("offset"))
          .as("rec_id"),
        col("value"))
      val tbl = s"graft_q197_logrx_${Tables.fixtureKey(sf, "events")}"
      if (!s.catalog.tableExists(s"${tbl}_meta")) {
        graft.pipeline.RegexIndex.writeRegexIndex(
          recs.filter(col("rec_id") % 2 === 0), "rec_id", "value", tbl,
          buckets = 32)
        graft.pipeline.RegexIndex.appendToRegexIndex(
          recs.filter(col("rec_id") % 2 === 1), "rec_id", "value", tbl,
          src = "q197:odds")
      }
      graft.pipeline.RegexIndex.searchFromIndex(s, tbl, recs, "rec_id",
          "value", """"k": 8[0-9]""")
        .withColumnRenamed("doc_id", "rec_id")
    })
  )

  /** The Avro writer schema for Q34 (also the file-registry payload). */
  val AvroEventSchema: String =
    """{"type": "record", "name": "Event", "fields": [
      |  {"name": "user_id", "type": "long"},
      |  {"name": "event_type", "type": "string"}]}""".stripMargin

  /** Q17's tumbling aggregation, shared verbatim between the batch query
    * and the Structured Streaming replay (same plan, two execution modes). */
  def tumblingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
      .select(unix_millis(col("window.start")).as("bucket_ms"),
        col("event_type"), col("n"), col("sum_value"))

  // ----------------------------------------------------------------- oracle

  private val R = Duck.recsWith
  private val RC = Duck.resultCols
  private val ORD = Duck.recOrder

  def oracle: Map[String, String] = Map(
    "q01_scan" -> s"""$R SELECT $RC FROM recs $ORD""",

    "q02_multi_topic" ->
      s"""${Duck.recsMultiWith}
         |SELECT $RC FROM (SELECT * FROM recs UNION ALL SELECT * FROM recs_clicks) $ORD""".stripMargin,

    "q03_offset_bounds" ->
      s"""$R SELECT topic, "partition", min("offset") AS earliest, max("offset") + 1 AS latest
         |FROM recs GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q04_key_regex" ->
      s"""$R SELECT $RC FROM recs WHERE regexp_full_match("key", '1[0-3]') $ORD""",

    "q05_key_val_regex" ->
      s"""$R SELECT $RC FROM recs
         |WHERE regexp_full_match("key", '1.*') AND regexp_full_match("value", '.*"k": 8.*') $ORD""".stripMargin,

    "q06_json_variant" ->
      s"""$R SELECT topic, "partition", "offset", "key",
         |  json_extract_string("value", '$$.k')::BIGINT AS k_num,
         |  json_extract_string("value", '$$.k') AS k_str
         |FROM recs $ORD""".stripMargin,

    "q07_progress" ->
      s"""$R SELECT $RC FROM recs
         |UNION ALL
         |SELECT 'offset' AS type, topic, "partition", "offset", "timestamp", "key", "value"
         |FROM recs WHERE "offset" % 100 = 0
         |ORDER BY type, topic, "partition", "offset"""".stripMargin,

    "q08_partitions" ->
      s"""$R SELECT $RC FROM recs WHERE "partition" IN (3, 5) $ORD""",

    "q08b_archive_partitions" ->
      s"""$R SELECT $RC FROM recs WHERE "partition" IN (3, 5) $ORD""",

    "q09_default_partition" ->
      s"""$R SELECT $RC FROM recs
         |WHERE "partition" = ${Murmur2.partition("13", RecordLog.NumPartitions)}
         |  AND regexp_full_match("key", '13') $ORD""".stripMargin,

    "q10_rel_offset_pos" ->
      s"""$R, bounds AS (
         |  SELECT topic, "partition", min("offset") AS e, max("offset") + 1 AS l
         |  FROM recs GROUP BY 1, 2)
         |SELECT $RC FROM recs JOIN bounds USING (topic, "partition")
         |WHERE "offset" >= e + 1 $ORD""".stripMargin,

    "q10_rel_offset_neg" ->
      s"""$R, bounds AS (
         |  SELECT topic, "partition", min("offset") AS e, max("offset") + 1 AS l
         |  FROM recs GROUP BY 1, 2)
         |SELECT $RC FROM recs JOIN bounds USING (topic, "partition")
         |WHERE "offset" >= l - 5 $ORD""".stripMargin,

    "q11_ts_window" ->
      s"""$R SELECT $RC FROM recs WHERE "timestamp" >= $T0 AND "timestamp" < $T1 $ORD""",

    "q19_intersect" ->
      """SELECT c_custkey AS id FROM customer
        |INTERSECT
        |SELECT user_id AS id FROM events
        |ORDER BY id""".stripMargin,

    "q19_except" ->
      """SELECT c_custkey AS id FROM customer
        |EXCEPT
        |SELECT user_id AS id FROM events
        |ORDER BY id""".stripMargin,

    "q12_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q109_salted_join" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q111_bucketed_join" ->
      """SELECT o_orderstatus,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q113_multi_format" ->
      """SELECT event_type,
        |  CAST(count(*) AS BIGINT) AS n_orc, CAST(sum(event_id) AS BIGINT) AS s_orc,
        |  CAST(count(*) AS BIGINT) AS n_csv, CAST(sum(event_id) AS BIGINT) AS s_csv,
        |  CAST(count(*) AS BIGINT) AS n_json, CAST(sum(event_id) AS BIGINT) AS s_json
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q13_agg" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q14_window_fn" ->
      """SELECT event_id, user_id, "value",
        |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
        |  lag("value") OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_value
        |FROM events ORDER BY event_id""".stripMargin,

    "q15_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice * (1.0 - l_discount) AS revenue
        |FROM lineitem ORDER BY revenue DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,

    "q143_unpivot" ->
      """WITH a AS (SELECT l_returnflag AS flag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |  FROM lineitem GROUP BY 1)
        |SELECT flag, metric, "value" FROM (
        |  SELECT flag, 'sum_qty' AS metric, sum_qty AS "value" FROM a
        |  UNION ALL
        |  SELECT flag, 'sum_price', sum_price FROM a)
        |ORDER BY flag, metric""".stripMargin,

    "q144_hopping" ->
      """WITH e AS (SELECT event_type, epoch_ms(ts) AS tm FROM events),
        |w AS (SELECT event_type,
        |    ((tm // 300000) - k.k) * 300000 AS w_start
        |  FROM e CROSS JOIN (VALUES (0), (1)) k(k))
        |SELECT w_start, event_type, count(*) AS n
        |FROM w GROUP BY w_start, event_type
        |ORDER BY w_start, event_type""".stripMargin,

    "q141_pivot" ->
      """SELECT l_returnflag AS flag,
        |  CAST(sum(CASE WHEN l_linestatus = 'F'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_f,
        |  CAST(sum(CASE WHEN l_linestatus = 'O'
        |    THEN CAST(l_quantity AS DECIMAL(18,2)) END) AS DOUBLE) AS qty_o
        |FROM lineitem GROUP BY 1 ORDER BY flag""".stripMargin,

    "q142_rolling_window" ->
      """SELECT event_id, user_id,
        |  CAST(floor("value" * 1000) AS BIGINT) AS v_mill,
        |  CAST(sum(CAST(floor("value" * 1000) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS roll_sum,
        |  count(*) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS roll_n
        |FROM events ORDER BY event_id""".stripMargin,

    // Semi ≡ EXISTS, anti ≡ NOT EXISTS: the oracle states the join
    // types by their defining subqueries.
    "q147_semi_anti_join" ->
      """SELECT c_mktsegment, status, n FROM (
        |  SELECT c_mktsegment, 'active' AS status, count(*) AS n
        |  FROM customer c
        |  WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
        |  GROUP BY c_mktsegment
        |  UNION ALL
        |  SELECT c_mktsegment, 'inactive', count(*)
        |  FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)
        |  GROUP BY c_mktsegment)
        |ORDER BY c_mktsegment, status""".stripMargin,

    "q148_correlated_subquery" ->
      """SELECT c_mktsegment, count(*) AS n_above
        |FROM customer c
        |WHERE CAST(floor(c.c_acctbal * 100) AS BIGINT) *
        |    (SELECT count(*) FROM customer c2
        |     WHERE c2.c_mktsegment = c.c_mktsegment)
        |  > (SELECT sum(CAST(floor(c2.c_acctbal * 100) AS BIGINT))
        |     FROM customer c2 WHERE c2.c_mktsegment = c.c_mktsegment)
        |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q149_ranking" ->
      """SELECT event_id, user_id,
        |  CAST(floor("value" * 1000) AS BIGINT) AS v_mill,
        |  ntile(4) OVER w AS quartile,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  count(*) OVER (PARTITION BY user_id
        |    ORDER BY CAST(floor("value" * 1000) AS BIGINT)
        |    RANGE BETWEEN 500 PRECEDING AND CURRENT ROW) AS range_n
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY event_id""".stripMargin,

    "q157_retention_cohorts" ->
      """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS d FROM events),
        |fi AS (SELECT user_id, min(d) AS cohort FROM ev GROUP BY user_id),
        |de AS (SELECT DISTINCT user_id, d FROM ev)
        |SELECT strftime(f.cohort, '%Y-%m-%d') AS cohort,
        |  CAST(date_diff('day', f.cohort, de.d) AS BIGINT) AS offset_days,
        |  CAST(count(DISTINCT de.user_id) AS BIGINT) AS n_active
        |FROM de JOIN fi f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q158_array_hof" ->
      """WITH lift AS (
        |  SELECT vec_id, list_transform(embedding,
        |    v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0 + 0.5) AS BIGINT))
        |    AS fx
        |  FROM embeddings),
        |ex AS (SELECT vec_id, unnest(fx) AS v FROM lift)
        |SELECT vec_id,
        |  CAST(sum(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
        |  bool_or(abs(v) > 524288) AS has_big,
        |  CAST(sum(abs(v)) AS BIGINT) AS l1_fp,
        |  CAST(sum(v * v) AS BIGINT) AS sumsq_fp
        |FROM ex GROUP BY vec_id ORDER BY vec_id""".stripMargin,

    "q159_window_values" ->
      """SELECT event_id, user_id, event_type,
        |  first_value(event_type) OVER w_full AS first_et,
        |  last_value(event_type) OVER w_full AS last_et,
        |  nth_value(event_type, 2) OVER w_full AS second_et,
        |  last_value(nullif(event_type, 'click') IGNORE NULLS)
        |    OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS prev_nonclick
        |FROM events
        |WINDOW w_full AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,

    "q160_ordered_funnel" ->
      """WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM events e
        |  JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM events e
        |  JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
        |SELECT '1_signup' AS step, CAST(count(*) AS BIGINT) AS n_users FROM s1
        |UNION ALL
        |SELECT '2_click_after', CAST(count(*) AS BIGINT) FROM s2
        |UNION ALL
        |SELECT '3_purchase_after', CAST(count(*) AS BIGINT) FROM s3
        |ORDER BY step""".stripMargin,

    "q161_multi_distinct" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
        |  CAST(count(*) AS BIGINT) AS n_events
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "q162_tpch_regional" ->
      """SELECT n_name, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount)
        |    AS DECIMAL(22,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |  AND c_nationkey = s_nationkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,

    "q163_join_strategies" ->
      """WITH base AS (
        |  SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS sum_price
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY c_mktsegment)
        |SELECT s.strategy, b.c_mktsegment, b.n_orders, b.sum_price
        |FROM base b, (VALUES ('merge'), ('shuffle_hash'), ('broadcast'))
        |  s(strategy)
        |ORDER BY s.strategy, b.c_mktsegment""".stripMargin,

    "q166_null_safe_join" ->
      """WITH ev AS (SELECT event_id, nullif(event_type, 'click') AS k
        |  FROM events),
        |agg AS (SELECT k, CAST(count(*) AS BIGINT) AS n FROM ev GROUP BY k)
        |SELECT 'equals' AS variant,
        |  CAST(count(a.n) AS BIGINT) AS n_matched,
        |  CAST(sum(CASE WHEN a.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_unmatched
        |FROM ev LEFT JOIN agg a ON ev.k = a.k
        |UNION ALL
        |SELECT 'null_safe',
        |  CAST(count(a.n) AS BIGINT),
        |  CAST(sum(CASE WHEN a.n IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |FROM ev LEFT JOIN agg a ON ev.k IS NOT DISTINCT FROM a.k
        |ORDER BY variant""".stripMargin,

    "q176_set_ops_all" ->
      """WITH l AS (SELECT event_type AS k FROM events),
        |r AS (SELECT event_type AS k FROM events WHERE event_id % 3 = 0),
        |ea AS (SELECT k FROM l EXCEPT ALL SELECT k FROM r),
        |ia AS (SELECT k FROM l INTERSECT ALL SELECT k FROM r)
        |SELECT 'except_all' AS op, k, CAST(count(*) AS BIGINT) AS n
        |FROM ea GROUP BY k
        |UNION ALL
        |SELECT 'intersect_all', k, CAST(count(*) AS BIGINT) FROM ia GROUP BY k
        |ORDER BY op, k""".stripMargin,

    "q177_lateral_topn" ->
      """SELECT s.c_mktsegment, t.o_orderkey, t.price
        |FROM (SELECT DISTINCT c_mktsegment FROM customer) s,
        |LATERAL (
        |  SELECT o.o_orderkey,
        |    CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price
        |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |  WHERE c.c_mktsegment = s.c_mktsegment
        |  ORDER BY o.o_totalprice DESC, o.o_orderkey
        |  LIMIT 2) t
        |ORDER BY s.c_mktsegment, t.price DESC, t.o_orderkey""".stripMargin,

    "q16_scalar" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base,
        |  CAST(sum(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(22,6))) AS DOUBLE) AS sum_disc,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty,
        |  l_returnflag || '/' || l_linestatus AS flag_status
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q17_tumbling" ->
      """SELECT (epoch_ms(ts) // 600000) * 600000 AS bucket_ms, event_type,
        |  count(*) AS n,
        |  CAST(sum(CAST("value" AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "q31_json_math" ->
      """SELECT event_type,
        |  CAST(sum(k) AS BIGINT) AS sum_k, max(k) AS max_k,
        |  count(CASE WHEN k > 50 THEN 1 END) AS n_big
        |FROM (SELECT event_type, json_extract_string(props, '$.k')::BIGINT AS k FROM events)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q29_sessionize" -> graft.streaming.Sessionize.batchOracleSql,

    "q30_rollup" ->
      """SELECT coalesce(l_returnflag, '<all>') AS flag,
        |  coalesce(l_linestatus, '<all>') AS status,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, flag, status""".stripMargin,

    "q116_value_histogram" ->
      """SELECT CAST(least(greatest(floor((value - 0.0) / 0.25), 0), 4095) AS INT)
        |    AS bucket,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM events GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q115_cube" ->
      """SELECT coalesce(l_returnflag, '<all>') AS flag,
        |  coalesce(l_linestatus, '<all>') AS status,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY g_flag, g_status, flag, status""".stripMargin,

    "q136_grouping_sets" ->
      """SELECT coalesce(l_returnflag, '<all>') AS flag,
        |  coalesce(l_linestatus, '<all>') AS status,
        |  CAST(grouping(l_returnflag) AS INT) AS g_flag,
        |  CAST(grouping(l_linestatus) AS INT) AS g_status,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), ())
        |ORDER BY g_flag, g_status, flag, status""".stripMargin,

    "q139_skew_report" -> graft.ops.SkewReport.oracleSql(
      "event_type", targetRowsPerTask = 100L),

    "q145_join_profile" -> graft.ops.SkewReport.joinProfileOracleSql(
      "user_id", targetRowsPerTask = 1000L),

    // Salting must be answer-invisible: the q109 oracle verbatim, but
    // sum_qty keeps full DECIMAL precision (no distributive re-round).
    "q146_auto_salted_join" ->
      """SELECT o_orderpriority,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q95_interval_join" -> IntervalJoin.eventsOracleSql(3600000L),

    "q18_asof_join" ->
      """SELECT e.event_id, e.user_id, b.o_orderkey, epoch_ms(b.o_orderdate) AS order_date_ms
        |FROM events e ASOF LEFT JOIN (
        |  SELECT o_custkey AS user_id, o_orderdate, max(o_orderkey) AS o_orderkey
        |  FROM orders GROUP BY 1, 2) b
        |ON e.user_id = b.user_id AND e.ts >= b.o_orderdate
        |ORDER BY e.event_id""".stripMargin,

    // The symbolic rendering a correct Avro encode→decode must reproduce.
    "q34_avro_roundtrip" ->
      """SELECT event_id, user_id::VARCHAR AS "key",
        |  '{"user_id": ' || user_id || ', "event_type": "' || event_type || '"}' AS "value"
        |FROM events
        |WHERE event_id < 500 AND event_type IN ('click', 'purchase')
        |ORDER BY event_id""".stripMargin,

    // The oracle re-derives the log (offsets included) and greps it —
    // a stale or missing index nomination surfaces as a row diff.
    "q197_indexed_log_grep" ->
      s"""$R SELECT "partition"::BIGINT * 1099511627776 + "offset" AS rec_id
         |FROM recs WHERE regexp_matches("value", '"k": 8[0-9]')
         |ORDER BY rec_id""".stripMargin
  )
}
