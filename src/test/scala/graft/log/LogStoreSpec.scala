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

  /** The pruned results over the synthesis the archive is written from. */
  private def synthesized(): Seq[String] =
    LogQuery.canonical(LogQuery.resultsFrom(
        LogQuery.consumedFrom(RecordLog.build(spark, TestSpark.Sf, "events"), opts), opts))
      .collect().map(_.mkString("|")).toSeq

  test("archived topic answers identically to the live synthesis") {
    val live = synthesized()
    val archived = LogQuery.canonical(LogQuery.resultsFrom(
        LogQuery.consumedFrom(LogStore.topic(spark, store, "events"), opts), opts))
      .collect().map(_.mkString("|")).toSeq
    assert(archived == live)
    assert(live.nonEmpty)
  }

  /** A fixture of its own: the first `n` events of the test fixture. */
  private def fixture(name: String, n: Int): String = {
    val sf = java.nio.file.Files.createTempDirectory(name).toString
    Tables.load(spark, TestSpark.Sf, "events").orderBy("event_id").limit(n)
      .write.parquet(s"$sf/events.parquet")
    sf
  }

  private def deleteTree(dir: String): Unit = {
    val root = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(root))
      java.nio.file.Files.walk(root).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
  }

  test("spark.graft.archiveDir pins RecordLog.topic to the store") {
    val pinned = TestSpark.onArchive(store)
    val viaConf = LogQuery.canonical(LogQuery.results(pinned, TestSpark.Sf, opts))
      .collect().map(_.mkString("|")).toSeq
    assert(viaConf == synthesized())
    // And it really is the archive scan: directory-level pruning applies.
    val plan = LogQuery.results(pinned, TestSpark.Sf, opts)
      .queryExecution.executedPlan.toString
    assert(plan.contains(s"$store/events") && plan.contains("PartitionFilters"), plan)
    // Whatever the fixture: the pinned archive answers.
    val small = fixture("graft-pinned-sf", 100)
    assert(RecordLog.events(pinned, small).count() ===
      LogStore.topic(spark, store, "events").count())
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(LogStore.derivedDir(small))),
      "a pinned session derives no archive")
  }

  test("unpinned: the first reads build the derived archive once, concurrently") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val sf = fixture("graft-derived-sf", 100)
    val dir = LogStore.derivedDir(sf)
    try {
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
      val counts = Await.result(Future.sequence((1 to 4).map { i =>
        Future(RecordLog.topic(spark, sf, RecordLog.Topics(i % 2)).count())
      }), 300.seconds)
      val events = Tables.load(spark, sf, "events")
      assert(counts.toSet == Set(events.count(), RecordLog.rowsOf(events, "clicks").count()))
      val success = new java.io.File(s"$dir/events/_SUCCESS")
      val built = success.lastModified()
      assert(built > 0, s"no archive at $dir")
      assert(RecordLog.archive(spark, sf) == dir)
      assert(success.lastModified() == built, "a current archive is not rebuilt")
      val e = intercept[IllegalArgumentException](RecordLog.topic(spark, sf, "nope"))
      assert(e.getMessage.contains("unknown topic: nope"))
    } finally deleteTree(dir)
  }

  /** Regenerate `sf`'s fixture with its first `n` events. */
  private def regenerate(sf: String, n: Int): Unit =
    Tables.load(spark, TestSpark.Sf, "events").orderBy("event_id").limit(n)
      .write.mode("overwrite").parquet(s"$sf/events.parquet")

  test("ensureMaterialized rebuilds when the fixture generation changes") {
    val sf = fixture("graft-regen-sf", 100)
    val gen1 = LogStore.derivedDir(sf)
    var gen2 = gen1
    try {
      assert(LogStore.ensureMaterialized(spark, sf, gen1), "the first call builds")
      assert(!LogStore.ensureMaterialized(spark, sf, gen1), "a complete archive is not rebuilt")
      regenerate(sf, 50)
      gen2 = LogStore.derivedDir(sf)
      assert(gen2 != gen1, "a new fixture generation is archived into a new directory")
      assert(LogStore.ensureMaterialized(spark, sf, gen2))
      assert(LogStore.topic(spark, gen2, "events").count() == 50)
      assert(LogStore.topic(spark, gen1, "events").count() == 100,
        "the previous generation's files are not written over")
    } finally Seq(gen1, gen2).foreach(deleteTree)
  }

  test("a read in progress keeps its generation; older generations are removed") {
    val sf = fixture("graft-inflight-sf", 100)
    val gens = scala.collection.mutable.Buffer(LogStore.derivedDir(sf))
    def exists(d: String) = java.nio.file.Files.exists(java.nio.file.Paths.get(d))
    try {
      // Resolved on generation 1; its scan and its footer bounds run later.
      val reading = RecordLog.seekable(spark, sf, "events")
      regenerate(sf, 50)
      gens += LogStore.derivedDir(sf)
      assert(RecordLog.topic(spark, sf, "events").count() == 50)
      assert(reading.records.count() == 100)
      assert(reading.bounds().map(_.values.map(b => b._2 - b._1).sum).contains(100L))
      regenerate(sf, 30)
      gens += LogStore.derivedDir(sf)
      assert(RecordLog.topic(spark, sf, "events").count() == 30)
      assert(gens.map(exists) == Seq(false, true, true),
        "a build keeps the newest previous generation and removes the older ones")
    } finally gens.foreach(deleteTree)
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
    val sf2 = fixture("graft-layout-sf", 100)
    val b = java.nio.file.Files.createTempDirectory("graft-layout-b").toString
    val pinned = TestSpark.onArchive(a)
    LogStore.materialize(pinned, sf2, b, Seq("events"))
    assert(LogStore.topic(pinned, b, "events").count() === 100)
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
