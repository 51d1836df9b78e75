package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Salted equi-join for known key skew (builder brief: "salting for
  * skew").
  *
  * A plain shuffle join puts every row of a hot key into ONE task; with
  * 100 TB and a power-law key (the norm for user/entity logs) that task is
  * the job. Salting splits each left key into `salts` sub-keys and
  * replicates the (small-ish, but not broadcastable) right side once per
  * salt, so the hot key spreads across `salts` tasks.
  *
  * The salt is DETERMINISTIC — `pmod(hash(whole left row), salts)` — so
  * results are reproducible run to run. Multiplicity is preserved: each
  * left row carries exactly one salt and meets exactly one replica of each
  * matching right row.
  *
  * AQE's runtime skew-join splitting (on by default) covers sort-merge
  * skew adaptively; explicit salting remains the static-plan tool and
  * works for hash joins too.
  */
object SaltedJoin {

  /** Hot-key cap for [[autoJoinWithProfile]]'s driver collect + double
    * broadcast. A genuine skew profile is a short head of a power law;
    * 100k (key, salts) rows ≈ a few MB broadcast — safely inside the
    * broadcast contract the repo's other loud guards use. */
  val MaxProfileKeys = 100000

  def join(left: DataFrame, right: DataFrame, key: String, salts: Int): DataFrame =
    join(left, right, key, key, salts)

  /** The differently-named-keys form (`l.keyLeft = r.keyRight`). */
  def join(left: DataFrame, right: DataFrame, keyLeft: String,
      keyRight: String, salts: Int): DataFrame = {
    require(salts > 0, "salts must be positive")
    val leftCols = left.columns.map(col).toSeq
    val l = left.withColumn("__salt", pmod(hash(leftCols: _*), lit(salts)))
    val r = right
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
    l.join(r, l(keyLeft) === r(keyRight) && l("__salt") === r("__salt"))
      .drop(r(keyRight)).drop(l("__salt")).drop(r("__salt"))
  }

  /** DIFFERENTIAL salting driven by the measured profile
    * ([[SkewReport.joinProfile]]) — the production form of [[join]]:
    * uniform salting replicates the WHOLE right side `salts` times
    * (q109's static rewrite, priced even where there is no skew);
    * here each hot key gets exactly the fan-out that bounds its salted
    * task's output at `targetRowsPerTask`, and COLD keys keep fan-out
    * 1 — no replication, no salt-space blowup. Answer-invisible like
    * [[join]]: each left row draws one salt in [0, salts(key)), each
    * right row replicates salts(key) times, so every matching pair
    * meets exactly once (q146's oracle is the plain SQL join).
    *
    * Scale shape: the profile is hot-keys-sized BY CONSTRUCTION (only
    * keys over the target survive it) and BROADCASTS onto both fact
    * tables to attach fan-outs — the fact tables never shuffle until
    * the one salted exchange on (key, salt). The profile pass reads
    * both tables once (two counter aggregations); amortize it by
    * persisting the profile beside the table when the same join runs
    * repeatedly. */
  def autoJoin(left: DataFrame, right: DataFrame, keyLeft: String,
      keyRight: String, targetRowsPerTask: Long): DataFrame =
    autoJoinWithProfile(left, right, keyLeft, keyRight,
      SkewReport.joinProfile(left, right, keyLeft, keyRight,
        targetRowsPerTask).select(col("key"), col("salts")))

  /** [[autoJoin]] against a SUPPLIED `(key, salts)` profile — the
    * deployment form (q153): the profile is measured once (or kept
    * current by a per-micro-batch `(key, n)` counter stream summed into
    * [[SkewReport.profileFromCounts]], as `StreamSkewSpec` runs it) and
    * PERSISTED beside the table, so repeated runs of the same join skip
    * the two profile aggregations entirely. Correct under ANY profile
    * with fan-outs ≥ 1 — duplicate keys fold to their max fan-out
    * before use (a key-duplicated profile would otherwise make
    * matching pairs meet once per duplicate row), and salting is
    * answer-invisible whether the profile is fresh, stale, or wrong
    * (SaltedJoinSpec pins a deliberately mis-measured AND a
    * key-duplicated profile); staleness costs load balance, never the
    * answer, which is what makes persisting it safe. */
  def autoJoinWithProfile(left: DataFrame, right: DataFrame,
      keyLeft: String, keyRight: String, profile: DataFrame): DataFrame = {
    val spark = left.sparkSession
    val prof0 = profile.select(col("key"), col("salts").cast("int"))
    // The profile lands as a LOCAL relation (collect + rebuild): it is
    // hot-keys-sized by the profile's own filter — exactly the skew-hint
    // list a production job persists — and a derived plan would put
    // `left`'s and `right`'s subtrees on BOTH sides of the final join
    // (a joinProfile derives from both), which Spark's self-join
    // disambiguation rejects as ambiguous.
    // Guard BEFORE collecting: the profile is driver-collected and
    // broadcast twice, so the bound is the broadcast contract (~100k
    // hot keys), not driver heap — a profile that size means the join
    // isn't "a few hot keys on a power law" and wants static salting.
    // One evaluation: collect bounded at MaxProfileKeys + 1 rows (the
    // +1 detects overflow without a second profile-aggregation pass).
    val rawRows = prof0.limit(MaxProfileKeys + 1).collect()
    require(rawRows.length <= MaxProfileKeys,
      s"join profile exceeds $MaxProfileKeys hot keys — above the " +
        "broadcast contract; salt statically (SaltedJoin.join) or " +
        "raise targetRowsPerTask")
    require(rawRows.forall(_.getInt(1) >= 1),
      "profile fan-outs must be >= 1")
    // Fold duplicate keys to their max fan-out (ADVICE r16): a profile
    // carrying the same key twice would otherwise multiply left rows
    // through the left-join AND re-replicate right rows, so matching
    // pairs meet more than once — answer-invisibility holds only for
    // key-unique profiles, so make any profile key-unique here.
    val profRows = rawRows.groupBy(_.get(0)).map { case (k, rs) =>
      org.apache.spark.sql.Row(k, rs.map(_.getInt(1)).max)
    }.toArray
    val prof = spark.createDataFrame(
      java.util.Arrays.asList(profRows: _*), prof0.schema)
    val leftCols = left.columns.map(col).toSeq
    val l = left
      .join(broadcast(prof), left(keyLeft) === prof("key"), "left")
      .withColumn("__salts", coalesce(col("salts"), lit(1)))
      .drop("key", "salts")
      .withColumn("__salt", pmod(hash(leftCols: _*), col("__salts")))
      .drop("__salts")
    val r = right
      .join(broadcast(prof), right(keyRight) === prof("key"), "left")
      .withColumn("__salts", coalesce(col("salts"), lit(1)))
      .drop("key", "salts")
      .withColumn("__salt",
        explode(sequence(lit(0), col("__salts") - lit(1))))
      .drop("__salts")
    l.join(r, l(keyLeft) === r(keyRight) && l("__salt") === r("__salt"))
      .drop(r(keyRight)).drop(l("__salt")).drop(r("__salt"))
  }
}
