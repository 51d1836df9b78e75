package graft.log

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.core.{QueryOptions, Tables}

class LogStoreSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private lazy val store = {
    val dir = java.nio.file.Files.createTempDirectory("graft-logstore").toString
    LogStore.materialize(spark, TestSpark.Sf, dir, Seq("events"))
    dir
  }

  private val opts = QueryOptions(bootstrapServers = "x", topics = Seq("events"),
    partitions = Some(Seq(3, 5)))

  test("archived topic answers identically to the live synthesis") {
    val live = LogQuery.canonical(LogQuery.results(spark, TestSpark.Sf, opts))
      .collect().map(_.mkString("|")).toSeq
    val archived = LogQuery.canonical(LogQuery.resultsFrom(
        LogQuery.consumedFrom(LogStore.topic(spark, store, "events"), opts), opts))
      .collect().map(_.mkString("|")).toSeq
    assert(archived == live)
    assert(live.nonEmpty)
  }

  test("spark.graft.recordSource=archive redirects RecordLog.topic to the store") {
    val live = LogQuery.canonical(LogQuery.results(spark, TestSpark.Sf, opts))
      .collect().map(_.mkString("|")).toSeq
    spark.conf.set("spark.graft.recordSource", "archive")
    spark.conf.set("spark.graft.archiveDir", store)
    try {
      val viaConf = LogQuery.canonical(LogQuery.results(spark, TestSpark.Sf, opts))
        .collect().map(_.mkString("|")).toSeq
      assert(viaConf == live)
      // And it really is the archive scan: directory-level pruning applies.
      val plan = LogQuery.results(spark, TestSpark.Sf, opts)
        .queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters"), plan)
    } finally {
      spark.conf.unset("spark.graft.recordSource")
      spark.conf.unset("spark.graft.archiveDir")
    }
  }

  test("ensureMaterialized rebuilds when the fixture generation changes") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ensure").toString
    LogStore.ensureMaterialized(spark, TestSpark.Sf, dir, Seq("events"))
    val marker = java.nio.file.Paths.get(dir, ".source-fingerprint")
    assert(java.nio.file.Files.exists(marker), "first build writes the marker")
    val success = new java.io.File(s"$dir/events/_SUCCESS")
    val t0 = success.lastModified()
    // Same fixture → reuse (the archive is not rewritten).
    Thread.sleep(1100) // _SUCCESS mtime granularity can be 1s
    LogStore.ensureMaterialized(spark, TestSpark.Sf, dir, Seq("events"))
    assert(success.lastModified() == t0, "unchanged fixture must not rebuild")
    // Simulate a regenerated fixture: corrupt the marker (the recorded
    // size+mtime no longer matches) → rebuild.
    java.nio.file.Files.write(marker, "0:0".getBytes("UTF-8"))
    LogStore.ensureMaterialized(spark, TestSpark.Sf, dir, Seq("events"))
    assert(success.lastModified() > t0, "stale marker must force a rebuild")
    assert(new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") != "0:0",
      "rebuild refreshes the marker")
  }

  test("partition predicates prune DIRECTORIES on the archive scan") {
    val df = LogQuery.consumedFrom(LogStore.topic(spark, store, "events"), opts)
    val plan = df.queryExecution.executedPlan.toString
    // The filter reached the file index, not a post-scan Filter only.
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[[^\\]]*partition[^\\]]*\\].*"), plan)
  }

  test("materialize archives sfDir even when the archive layout is on") {
    val a = java.nio.file.Files.createTempDirectory("graft-layout-a").toString
    LogStore.materialize(spark, TestSpark.Sf, a, Seq("events"))
    val sf2 = java.nio.file.Files.createTempDirectory("graft-layout-sf").toString
    Tables.load(spark, TestSpark.Sf, "events").orderBy("event_id").limit(100)
      .write.parquet(s"$sf2/events.parquet")
    val b = java.nio.file.Files.createTempDirectory("graft-layout-b").toString
    spark.conf.set("spark.graft.recordSource", "archive")
    spark.conf.set("spark.graft.archiveDir", a)
    try {
      LogStore.materialize(spark, sf2, b, Seq("events"))
      assert(LogStore.topic(spark, b, "events").count() === 100)
    } finally {
      spark.conf.unset("spark.graft.recordSource")
      spark.conf.unset("spark.graft.archiveDir")
    }
  }

  test("an archive rewritten in place: the next topic read sees the new rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite").toString
    LogStore.materialize(spark, TestSpark.Sf, dir, Seq("events"))
    val full = LogStore.topic(spark, dir, "events").count()
    // A second fixture generation at another location: the first 100 events.
    val sf2 = java.nio.file.Files.createTempDirectory("graft-rewrite-sf").toString
    Tables.load(spark, TestSpark.Sf, "events").orderBy("event_id").limit(100)
      .write.parquet(s"$sf2/events.parquet")
    LogStore.materialize(spark, sf2, dir, Seq("events"))
    // A stale listing would name the deleted files (FileNotFoundException)
    // or count the old rows.
    assert(full > 100)
    assert(LogStore.topic(spark, dir, "events").count() === 100)
    assert(Tables.resolvedPaths(spark).count(_ == s"$dir/events") === 1,
      "the superseded entry is dropped")
  }

  test("an archive rewritten in place: the next tail request seeks by the new bounds") {
    val dir = java.nio.file.Files.createTempDirectory("graft-rewrite-tail").toString
    LogStore.materialize(spark, TestSpark.Sf, dir, Seq("events"))
    val s = TestSpark.onArchive(dir)
    val tail = QueryOptions(bootstrapServers = TestSpark.Sf, topics = Seq("events"),
      relativeOffset = Some(-3L))
    def sought(): Seq[String] = {
      val df = LogQuery.consumed(s, TestSpark.Sf, tail)
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("HashAggregate"), s"not sought by footer bounds: $plan")
      ordered(df)
    }
    def ordered(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("partition", "offset").collect().map(_.mkString("|")).toSeq
    def aggregated(): Seq[String] =
      ordered(LogQuery.consumedFrom(LogStore.topic(s, dir, "events"), tail))
    val before = sought()
    assert(before == aggregated() && before.nonEmpty)
    val sf2 = java.nio.file.Files.createTempDirectory("graft-rewrite-tail-sf").toString
    Tables.load(spark, TestSpark.Sf, "events").orderBy("event_id").limit(100)
      .write.parquet(s"$sf2/events.parquet")
    LogStore.materialize(spark, sf2, dir, Seq("events"))
    val after = sought()
    assert(after != before, "the tail still seeks by the old bounds")
    assert(after == aggregated() && after.nonEmpty)
    assert(Tables.resolvedPaths(s).count(_ == s"$dir/events") === 1,
      "the superseded entry, footers included, is dropped")
  }
}
