package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Fixture-generation canary: the events fixture has shipped with `ts`
  * as parquet TIMESTAMP(NANOS) (arriving as a long under `nanosAsLong`)
  * and as native TIMESTAMP(MICROS) (arriving as TIMESTAMP_NTZ). Both
  * generations must normalize to the identical engine-facing schema and
  * the identical instants — the round-13 testdata regeneration broke 22
  * queries because the loader hard-coded the first generation. */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("normalizeEventsTs maps both ts generations to the same instants") {
    import spark.implicits._
    // 2024-01-01T00:09:58.778549Z — a real new-generation value with
    // sub-millisecond precision.
    val micros = 1704067798778549L
    val legacy = Seq((0L, micros * 1000L)).toDF("event_id", "ts") // nanos long
    val modern = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(0L,
        java.time.LocalDateTime.ofEpochSecond(micros / 1000000L,
          ((micros % 1000000L) * 1000L).toInt, java.time.ZoneOffset.UTC))),
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampNTZType))))
    val a = Tables.normalizeEventsTs(legacy)
    val b = Tables.normalizeEventsTs(modern)
    assert(a.schema("ts").dataType === TimestampType)
    assert(b.schema("ts").dataType === TimestampType)
    val ua = a.select(unix_micros(col("ts"))).head().getLong(0)
    val ub = b.select(unix_micros(col("ts"))).head().getLong(0)
    assert(ua === micros && ub === micros)
  }

  test("load normalizes the shipped events fixture to timestamp ts") {
    val ev = Tables.load(spark, TestSpark.Sf, "events")
    assert(ev.schema("ts").dataType === TimestampType)
    assert(ev.schema.fields.forall(_.dataType != TimestampNTZType))
    assert(ev.count() > 0)
  }

  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .get.asInstanceOf[HadoopFsRelation]

  test("two loads of one table in one query get distinct attributes; a self-join resolves") {
    val a = Tables.load(spark, TestSpark.Sf, "events")
    val b = Tables.load(spark, TestSpark.Sf, "events")
    assert(relationOf(a) eq relationOf(b), "the session's relation is resolved once")
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    val joined = a.join(b, a("event_id") === b("event_id")).count()
    // The same self-join over two independent reads: how every load
    // resolved before the memo.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"${TestSpark.Sf}/events.parquet"
    val ra = Tables.normalizeEventsTs(spark.read.parquet(path))
    val rb = Tables.normalizeEventsTs(spark.read.parquet(path))
    assert(joined > 0 && joined === ra.join(rb, ra("event_id") === rb("event_id")).count())
  }

  test("two sessions never share a relation") {
    val other = spark.newSession()
    val mine = relationOf(Tables.load(spark, TestSpark.Sf, "orders"))
    val theirs = relationOf(Tables.load(other, TestSpark.Sf, "orders"))
    assert(mine ne theirs)
    assert(mine.sparkSession eq spark)
    assert(theirs.sparkSession eq other)
    val path = s"${TestSpark.Sf}/orders.parquet"
    assert(Tables.resolvedPaths(spark).contains(path))
    assert(Tables.resolvedPaths(other) == Seq(path))
  }
}
