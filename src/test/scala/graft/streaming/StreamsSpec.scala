package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import java.nio.file.Files

class StreamsSpec extends SparkSpec {

  private def microBatch(df: org.apache.spark.sql.DataFrame,
                         sink: String): Unit = {
    val q = df.writeStream.format("memory").queryName(sink)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    Streams.awaitDone(q, 60000)
  }

  test("awaitDone stops a stream still running at the timeout and throws") {
    val src = Files.createTempDirectory("graft_timeout_src").toString + "/s"
    val ckpt = Files.createTempDirectory("graft_timeout_ck").toString
    spark.range(4).toDF("id").write.json(src)
    // the one micro-batch blocks far past the await below
    val q = Streams.foreachBatchRun(
      spark.readStream.schema("id LONG").json(src), ckpt) { (_, _) =>
      Thread.sleep(60000)
    }
    intercept[java.util.concurrent.TimeoutException] {
      Streams.awaitDone(q, 2000)
    }
    assert(!q.isActive)
    assert(spark.streams.active.isEmpty)
  }

  test("fileIngest picks up files incrementally with lineage columns") {
    val dir = Files.createTempDirectory("graft_ingest").toFile
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType)))
    // stage 1: two files
    tables.events.select("event_id", "user_id", "event_type")
      .limit(100).coalesce(2).write.mode("overwrite").json(dir.getPath)
    val stream = Streams.fileIngest(spark, dir.getPath, schema)
    assert(stream.isStreaming)
    val checkpoint = Files.createTempDirectory("graft_ckpt").toFile.getPath
    val q = stream.writeStream.format("memory").queryName("ingested")
      .option("checkpointLocation", checkpoint)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    Streams.awaitDone(q, 60000)
    val got = spark.sql("select * from ingested")
    assert(got.count() == 100)
    assert(got.filter(col("source_file").contains(".json")).count() == 100)
    assert(got.columns.contains("inserted_at"))
  }

  test("windowAgg in streaming mode aggregates tumbling windows with watermark") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EventRow]
    val base = 1704067200000000L // 2024-01-01T00:00Z in µs
    mem.addData(
      EventRow(1, base + 100L, 1, "click", 1.0, "{}"),
      EventRow(2, base + 200L, 1, "click", 2.0, "{}"),
      EventRow(3, base + 3600L * 1000000 + 5, 1, "click", 3.0, "{}"),
      // far-future sentinel advances the watermark past both windows
      EventRow(4, base + 9 * 3600L * 1000000, 1, "click", 9.0, "{}"))
    val agg = Streams.windowAgg(
      mem.toDF().withColumn("ts", timestamp_micros(col("ts"))),
      watermark = Some("0 seconds"))
    microBatch(agg, "win_agg")
    val rows = spark.sql("select * from win_agg").collect()
    // append mode emits only watermark-closed windows: hours 0 and 1;
    // the sentinel's own window stays open
    assert(rows.map(_.getAs[Long]("n_events")).sum == 3)
    assert(rows.length == 2)
  }

  test("flatMapGroupsWithState sessionize closes sessions on gap") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val mem = MemoryStream[EventRow]
    val base = 1704067200000000L
    val gap = 1800000000L // 30 min
    mem.addData(
      EventRow(1, base, 7, "click", 1.0, "{}"),
      EventRow(2, base + 60L * 1000000, 7, "click", 1.0, "{}"),
      // > gap later → closes session 1
      EventRow(3, base + 3 * 3600L * 1000000, 7, "click", 1.0, "{}"),
      // much later event advances the watermark so session 2 times out
      EventRow(4, base + 9 * 3600L * 1000000, 8, "view", 1.0, "{}"))
    val sess = Streams.sessionize(mem.toDS(), gap)
    microBatch(sess.toDF(), "sessions")
    val rows = spark.sql("select * from sessions where user_id = 7").collect()
    assert(rows.length >= 1)
    val first = rows.minBy(_.getAs[Long]("session_start"))
    assert(first.getAs[Long]("session_start") == base)
    assert(first.getAs[Long]("session_end") == base + 60L * 1000000)
    assert(first.getAs[Int]("n_events") == 2)
  }

  test("streaming sessionize emits exactly the batch-analog's sessions") {
    implicit val sq = spark.sqlContext
    implicit val sp = spark
    import spark.implicits._
    val gap = 1800000000L
    val real = tables.events
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[EventRow].collect()
    // per-user closing sentinel > gap after everything: every REAL
    // session closes inline in the first micro-batch (no reliance on
    // watermark timeout emission); the sentinels' own sessions stay
    // open and are emitted by neither path
    val sentinelTs = real.map(_.ts).max + 10 * gap
    val sentinels = real.map(_.user_id).distinct
      .map(u => EventRow(-1 - u, sentinelTs, u, "sentinel", 0.0, "{}"))
    val augmented = (real ++ sentinels).toSeq
    val mem = MemoryStream[EventRow]
    mem.addData(augmented: _*)
    microBatch(Streams.sessionize(mem.toDS(), gap).toDF(), "sess_parity")
    val streamed = spark.sql("select * from sess_parity").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Int]("n_events"))).toSet
    val batch = Streams.sessionizeBatch(
      augmented.toDF(), gap)
      .filter(col("session_start") < sentinelTs)
      .collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("session_end"), r.getAs[Int]("n_events"))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("streaming windowAgg emits exactly the batch analog's closed windows") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val real = tables.events
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[EventRow].collect()
    // one sentinel far past everything: the watermark closes every
    // real window; the sentinel's own window stays open in append mode
    val sentinelTs = real.map(_.ts).max + 24 * 3600L * 1000000
    val augmented = (real :+ EventRow(-1, sentinelTs, -1, "sentinel", 0.0, "{}")).toSeq
    val mem = MemoryStream[EventRow]
    mem.addData(augmented: _*)
    val agg = Streams.windowAgg(
      mem.toDF().withColumn("ts", timestamp_micros(col("ts"))),
      watermark = Some("0 seconds"))
    microBatch(agg, "win_parity")
    val streamed = spark.sql("select * from win_parity").collect()
      .map(r => (r.getAs[Long]("window_start_us"), r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    val batch = Streams.windowAgg(
      tables.eventsTimestamped, watermark = None).collect()
      .map(r => (r.getAs[Long]("window_start_us"), r.getAs[String]("event_type"),
        r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("stream-stream interval join emits exactly the batch range-join pairs") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val windowUs = 1800000000L
    val real = tables.events
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[EventRow].collect()
    // sentinels on DISTINCT users advance both sides' watermarks past
    // every real event without joining each other or anything real
    val farTs = real.map(_.ts).max + 100 * windowUs
    val augmented = (real ++ Seq(
      EventRow(-1, farTs, -1, "click", 0.0, "{}"),
      EventRow(-2, farTs, -2, "purchase", 0.0, "{}"))).toSeq
    val mem = MemoryStream[EventRow]
    mem.addData(augmented: _*)
    val src = mem.toDF()
    val joined = Streams.attributionPairsStream(
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "purchase"), windowUs)
    microBatch(joined, "attr_pairs")
    val streamed = spark.sql(
      "select * from attr_pairs where user_id >= 0").collect()
      .map(r => (r.getAs[Long]("purchase_id"), r.getAs[Long]("click_id")))
      .toSet
    // batch truth: the bucketed range join on the same rows
    val ev = augmented.toDF()
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("ts") - windowUs).as("w_lo"), col("ts").as("w_hi"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val batch = graft.operators.RangeJoin.pointInInterval(clicks, purchases,
      "user_id", "ts", "w_lo", "w_hi", windowUs)
      .filter(col("user_id") >= 0)
      .select("purchase_id", "click_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed.nonEmpty)
    assert(streamed == batch)
  }

  test("left-outer stream-stream join: null rows are watermark-closure " +
    "events, complete once the watermark passes the data") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val windowUs = 10000000L // 10 s
    val t = 1000000L // 1 s in µs
    // P1 (user 1) has no click; P2 (user 2) matches C1 eagerly
    val real = Seq(
      EventRow(10, 95 * t, 2, "click", 0.0, "{}"),
      EventRow(20, 100 * t, 1, "purchase", 0.0, "{}"),
      EventRow(21, 100 * t, 2, "purchase", 0.0, "{}"))
    def run(rows: Seq[EventRow], sink: String): Set[(Long, Option[Long])] = {
      val mem = MemoryStream[EventRow]
      mem.addData(rows: _*)
      val src = mem.toDF()
      microBatch(Streams.attributionOuterStream(
        src.filter(col("event_type") === "click"),
        src.filter(col("event_type") === "purchase"),
        windowUs, watermark = "10 seconds"), sink)
      spark.sql(s"select * from $sink where user_id >= 0").collect()
        .map(r => (r.getAs[Long]("purchase_id"),
          Option(r.getAs[java.lang.Long]("click_id")).map(_.longValue())))
        .toSet
    }
    // without a watermark advance past the purchases, the unmatched
    // purchase may NOT emit its null row — closure never happened
    // (the eager inner match still does)
    val tail = run(real, "sjo_tail")
    assert(tail == Set((21L, Some(10L))),
      s"unmatched purchase must stay pending until closure, got $tail")
    // sentinels on distinct users push both watermarks past the data:
    // the no-data batch flushes the outer row exactly once
    val far = 100000 * t
    val flushed = run(real ++ Seq(
      EventRow(-1, far, -1, "click", 0.0, "{}"),
      EventRow(-2, far, -2, "purchase", 0.0, "{}")), "sjo_flush")
    assert(flushed == Set((21L, Some(10L)), (20L, None)))
  }

  test("dedupStream emits each event_id exactly once across micro-batches") {
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[EventRow]
    val base = 1704067200000000L // 2024-01-01T00:00Z in µs
    val q = Streams.dedupStream(mem.toDF())
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    // batch 1: ids 1, 2 with a same-batch duplicate of 1
    mem.addData(
      EventRow(1, base, 1, "click", 1.0, "{}"),
      EventRow(2, base + 10, 1, "view", 2.0, "{}"),
      EventRow(1, base, 1, "click", 1.0, "{}"))
    q.processAllAvailable()
    // batch 2: a CROSS-batch duplicate of 2 (still inside the
    // watermark horizon → state remembers it) plus a new id 3
    mem.addData(
      EventRow(2, base + 10, 1, "view", 2.0, "{}"),
      EventRow(3, base + 20, 2, "click", 3.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("select event_id from dedup_stream")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L, 3L))
  }

  test("mergeStream commits per micro-batch and retried batch ids are no-ops") {
    val dir = Files.createTempDirectory("graft_smv").toString
    val table = s"$dir/table"
    val src = s"$dir/src"
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", LongType),
      StructField("user_id", LongType)))
    val ev = tables.events.select("event_id", "ts", "user_id")
    // run 1: first half of the data
    ev.filter(col("event_id") % 2 === 0).repartition(2)
      .write.mode("overwrite").json(src)
    val ckpt = s"$dir/ckpt"
    Streams.awaitDone(Streams.mergeStream(spark, src, schema, table,
      "user_id", "ts", "event_id", ckpt,
      payloadCols = Seq("event_id", "ts", "user_id")), 60000)
    val v1 = graft.operators.VersionedTable.latestVersion(table).get
    val usersAfter1 = graft.operators.VersionedTable.read(spark, table)
      .count()
    // run 2: new files arrive; same checkpoint picks up only the delta
    ev.filter(col("event_id") % 2 === 1).repartition(2)
      .write.mode("append").json(src)
    Streams.awaitDone(Streams.mergeStream(spark, src, schema, table,
      "user_id", "ts", "event_id", ckpt,
      payloadCols = Seq("event_id", "ts", "user_id")), 60000)
    // more commits happened, each marked with its batch id
    assert(graft.operators.VersionedTable.latestVersion(table).get > v1)
    val ops = graft.operators.VersionedTable.operations(table)
    assert(ops.forall(_.startsWith("STREAM_MERGE[batch=")))
    assert(ops.distinct.size == ops.size, s"duplicate batch commits: $ops")
    // final table = latest event per user over ALL staged rows
    val expect = graft.operators.Medallion
      .dedupLatest(ev, "user_id", "ts", "event_id")
    val got = graft.operators.VersionedTable.read(spark, table)
    assert(got.count() == expect.count())
    assert(got.exceptAll(expect).count() == 0)
    assert(usersAfter1 <= got.count())
    // retry semantics: re-delivering an already-committed batch id
    // changes nothing (exactly-once via the commit-log marker)
    val before = graft.operators.VersionedTable.versions(table)
    graft.streaming.Streams.mergeBatch(spark, table, "user_id", "ts",
      "event_id", ckpt)(ev.limit(5), 0L)
    assert(graft.operators.VersionedTable.versions(table) == before)
  }

  test("two streams (two checkpoints) merging and appending into one " +
    "table both land; a retried (stream, batch) is still a no-op") {
    import graft.operators.{Medallion, VersionedTable}
    val dir = Files.createTempDirectory("graft_two_streams").toString
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", LongType), StructField("user_id", LongType)))
    val cols = Seq("event_id", "ts", "user_id")
    val ev = tables.events.select(cols.map(col): _*)
    // disjoint halves, one source directory (and checkpoint) each
    val halves = Seq(0, 1).map(r => ev.filter(col("event_id") % 2 === r))
    halves.zipWithIndex.foreach { case (h, i) =>
      h.repartition(2).write.mode("overwrite").json(s"$dir/src$i")
    }
    val (merged, appended) = (s"$dir/merged", s"$dir/appended")
    Seq(0, 1).foreach { i =>
      Streams.awaitDone(Streams.mergeStream(spark, s"$dir/src$i", schema,
        merged, "user_id", "ts", "event_id", s"$dir/mck$i",
        payloadCols = cols), 60000)
      Streams.awaitDone(Streams.appendStream(spark, s"$dir/src$i", schema,
        appended, s"$dir/ack$i", payloadCols = cols), 60000)
    }
    // the second stream's batch 0 is not mistaken for the first's
    val expect = Medallion.dedupLatest(ev, "user_id", "ts", "event_id")
    val got = VersionedTable.read(spark, merged)
    assert(got.count() == expect.count())
    assert(got.exceptAll(expect).count() == 0)
    val all = VersionedTable.read(spark, appended)
    assert(all.count() == ev.count() && all.exceptAll(ev).count() == 0)
    // each stream's markers name it
    Seq(merged -> "mck", appended -> "ack").foreach { case (t, ck) =>
      val ops = VersionedTable.operations(t)
      Seq(0, 1).foreach(i =>
        assert(ops.exists(_.contains(s",stream=$dir/$ck$i,id=")), ops))
    }
    // a retried batch of either stream changes nothing
    val (mv, av) = (VersionedTable.versions(merged),
      VersionedTable.versions(appended))
    Seq(0, 1).foreach { i =>
      Streams.mergeBatch(spark, merged, "user_id", "ts", "event_id",
        s"$dir/mck$i")(ev.limit(5), 0L)
      Streams.appendBatch(spark, appended, s"$dir/ack$i")(ev.limit(5), 0L)
    }
    assert(VersionedTable.versions(merged) == mv)
    assert(VersionedTable.versions(appended) == av)
    // a third, fresh stream's batch 0 does land
    Streams.appendBatch(spark, appended, s"$dir/ack2")(ev.limit(5), 0L)
    assert(VersionedTable.read(spark, appended).count() == ev.count() + 5)
  }

  test("a checkpoint deleted and recreated at the same path is a new " +
    "stream: its batches land below the old stream's markers") {
    import graft.operators.VersionedTable
    val dir = Files.createTempDirectory("graft_ckpt_reset").toString
    val (table, ckpt) = (s"$dir/t", s"$dir/ckpt")
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", LongType), StructField("user_id", LongType)))
    val cols = Seq("event_id", "ts", "user_id")
    val ev = tables.events.select(cols.map(col): _*)
    val halves = Seq(0, 1).map(r => ev.filter(col("event_id") % 2 === r))
    def run(i: Int): Unit = {
      halves(i).repartition(2).write.mode("overwrite").json(s"$dir/src$i")
      Streams.awaitDone(Streams.appendStream(spark, s"$dir/src$i", schema,
        table, ckpt, payloadCols = cols, maxFilesPerTrigger = 1), 60000)
    }
    run(0)
    // the first stream committed batches 0 and 1
    assert(VersionedTable.operations(table).size == 2)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    run(1)
    // the recreated checkpoint's batches 0 and 1 landed too
    val got = VersionedTable.read(spark, table)
    assert(got.count() == ev.count() && got.exceptAll(ev).count() == 0)
    // and a retry of its batch 0 is still a no-op
    val before = VersionedTable.versions(table)
    Streams.appendBatch(spark, table, ckpt)(ev.limit(3), 0L)
    assert(VersionedTable.versions(table) == before)
  }

  test("appendStream: append-only bronze lifecycle — O(batch) commits " +
    "that re-link prior files, exactly-once on retry") {
    import org.apache.spark.sql.types._
    val base = java.nio.file.Files.createTempDirectory("graft_sav").toString
    val (src, table, ckpt) = (s"$base/src", s"$base/t", s"$base/ckpt")
    val ev = tables.events.select("event_id", "ts", "user_id")
    ev.repartition(4).write.mode("overwrite").json(src)
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", LongType), StructField("user_id", LongType)))
    Streams.awaitDone(Streams.appendStream(spark, src, schema, table, ckpt,
      payloadCols = Seq("event_id", "ts", "user_id"),
      maxFilesPerTrigger = 2), 60000)
    val ops = graft.operators.VersionedTable.operations(table)
    assert(ops.nonEmpty && ops.forall(_.startsWith("STREAM_APPEND[batch=")))
    assert(ops.distinct.size == ops.size)
    // every commit RE-LINKS all prior files: the final manifest holds
    // every earlier version's files plus its own batch
    val last = graft.operators.VersionedTable.latestVersion(table).get
    val mLast = graft.operators.VersionedTable.manifest(table, last)
      .map(_._1).toSet
    (0 until last).foreach { v =>
      assert(graft.operators.VersionedTable.manifest(table, v).map(_._1)
        .toSet.subsetOf(mLast), s"version $v files not re-linked")
    }
    // content = one copy of everything staged
    val got = graft.operators.VersionedTable.read(spark, table)
    assert(got.count() == ev.count())
    assert(got.exceptAll(ev).count() == 0)
    // retry: re-delivering a committed batch id is a no-op
    val before = graft.operators.VersionedTable.versions(table)
    Streams.appendBatch(spark, table, ckpt)(ev.limit(3), 0L)
    assert(graft.operators.VersionedTable.versions(table) == before)
  }

  test("sessionizeBatch matches a hand-computed session split") {
    val gap = 1800000000L
    val out = Streams.sessionizeBatch(tables.events, gap)
    // session count per user >= 1 and n_events sums to event count
    val total = out.agg(sum("n_events")).head.getLong(0)
    assert(total == tables.events.count())
    // no session spans a gap: start/end consistency
    assert(out.filter(col("session_end") < col("session_start")).count() == 0)
  }

  test("watermarkDropRun pins the engine's boundary semantics: " +
    "window_end == watermark drops, window_end > watermark survives") {
    import spark.implicits._
    val S = 1000000L
    // arrival order is hash-permuted by the harness; a budget >= n
    // makes the modulus 1 (whole input replays) and nBatches=2 means
    // the FIRST batch (by arrival hash) sets the watermark for the
    // second. Construct events whose hash order we don't control but
    // whose SEMANTICS the oracle rule fixes: just assert the run
    // equals the rule evaluated in-JVM.
    val ev = Seq((1L, 100 * S), (2L, 95 * S), (3L, 79 * S),
      (4L, 80 * S), (5L, 90 * S), (6L, 99 * S))
      .toDF("event_id", "ts")
    val out = graft.streaming.Streams.watermarkDropRun(spark, ev,
      delayUs = 10 * S, windowUs = 10 * S, nBatches = 2, sampleBudget = 100,
      outDir = java.nio.file.Files
        .createTempDirectory("graft_wmd_spec").toString + "/out")
      .collect().map(r => r.getAs[Long]("window_start_us") ->
        r.getAs[Long]("n")).toMap
    // replicate the calibrated rule in plain Scala
    def sha60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes("UTF-8"))
      var acc = 0L; var i = 0
      while (i < 8) { acc = (acc << 8) | (d(i) & 0xffL); i += 1 }
      acc >>> 4
    }
    val rows = Seq((1L, 100 * S), (2L, 95 * S), (3L, 79 * S),
      (4L, 80 * S), (5L, 90 * S), (6L, 99 * S))
      .sortBy { case (id, _) => (sha60(s"arr:$id"), id) }
    val chunk = (rows.length + 1) / 2
    val batches = rows.grouped(chunk).toSeq
    var wm = Option.empty[Long]
    val accepted = scala.collection.mutable.Map[Long, Long]()
    batches.foreach { b =>
      b.foreach { case (_, ts) =>
        val ws = ts - ts % (10 * S)
        if (wm.forall(w => ws + 10 * S > w - 10 * S))
          accepted(ws) = accepted.getOrElse(ws, 0L) + 1L
      }
      val mt = b.map(_._2).max
      wm = Some(wm.fold(mt)(math.max(_, mt)))
    }
    assert(out == accepted.toMap,
      s"engine $out vs calibrated rule ${accepted.toMap}")
  }

  test("watermarkDropRun replay sample is bounded by an ABSOLUTE row " +
    "budget at any input cardinality") {
    import graft.operators.Similarity.sampleModulus
    // modulus = ceil(n / budget) ⇒ expected sample n/m <= budget for
    // EVERY n — the driver collect cannot grow with the corpus
    for (n <- Seq(1L, 1999L, 2000L, 2001L, 123456789L,
        1000000000000L, Long.MaxValue / 4))
      assert(n / sampleModulus(n, 2000) <= 2000L,
        s"expected sample for n=$n exceeds the 2000-row budget")
    // realized sample on the events table: the exact filter the
    // harness applies, at two budgets — deterministic (sha60-keyed),
    // concentrated at ~budget, asserted within 2x
    val sha60 = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.graft.GraftBridge.column(
        graft.functions.expressions.Sha60(
          org.apache.spark.sql.graft.GraftBridge.expression(c)))
    val n = tables.events.count()
    for (b <- Seq(50, 500)) {
      val m = sampleModulus(n, b)
      val c = tables.events.filter(
        pmod(sha60(concat(lit("wmd:"), col("event_id").cast("string"))),
          lit(m)) === 0).count()
      assert(c >= 1L && c <= 2L * b,
        s"realized sample $c outside (0, ${2 * b}] for budget $b (mod $m)")
    }
  }

  test("sessionStatsBatch: hand-computed engagement histogram") {
    import spark.implicits._
    val gap = 100L
    // user 1: events at 0, 50, 60 (one 3-event session, duration 60)
    //         then 500 (a 1-event session)
    // user 2: events at 0 (1-event session)
    val ev = Seq((1L, 0L, 1L), (2L, 50L, 1L), (3L, 60L, 1L),
      (4L, 500L, 1L), (5L, 0L, 2L))
      .toDF("event_id", "ts", "user_id")
    val out = Streams.sessionStatsBatch(ev, gap)
      .collect().map(r => r.getAs[Long]("n_events") -> r).toMap
    assert(out(3L).getAs[Long]("n_sessions") == 1L &&
      out(3L).getAs[Long]("total_duration_us") == 60L &&
      out(3L).getAs[Double]("mean_duration_us") == 60.0)
    assert(out(1L).getAs[Long]("n_sessions") == 2L &&
      out(1L).getAs[Long]("total_duration_us") == 0L)
  }

  test("indexed dedup stream: pair set is batch-split independent and equals the batch estimate") {
    import graft.operators.Dedup
    val docs = tables.documents.select("doc_id", "text")
    val src = Files.createTempDirectory("graft_sdi_src").toString
    docs.repartition(8).write.mode("overwrite").json(src)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))

    def run(maxFiles: Int): Set[(Long, Long, Double)] = {
      val idx = Files.createTempDirectory("graft_sdi_idx").toString
      val prs = Files.createTempDirectory("graft_sdi_prs").toString
      val ckpt = Files.createTempDirectory("graft_sdi_ck").toString
      Streams.awaitDone(Streams.indexedDedupStream(spark, src, schema,
        s"$idx/i", s"$prs/p", ckpt, maxFilesPerTrigger = maxFiles), 60000)
      spark.read.parquet(s"$prs/p").select("id_a", "id_b", "est_jaccard")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    }

    val oneByOne = run(1)   // 8 micro-batches
    val allAtOnce = run(32) // 1 micro-batch (intra only)
    assert(oneByOne == allAtOnce, "pair set depends on the batch split")

    val signed = docs.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 64).as("sig"))
    val batch = Dedup.estimatePairsSigned(signed, 64, 16, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(oneByOne == batch, "accumulated stream pairs != batch estimate")
    assert(batch.nonEmpty)
  }

  test("ann probe stream: results are batch-split independent and equal the one-shot probe") {
    import graft.operators.Similarity
    val emb = tables.embeddings
    val idx = Files.createTempDirectory("graft_sap_idx").toString + "/i"
    Similarity.buildIvfIndex(emb, idx)
    val queries = emb.filter(col("vec_id") < 16)
      .select("vec_id", "embedding")
    val src = Files.createTempDirectory("graft_sap_src").toString
    queries.repartition(4).write.mode("overwrite").parquet(src)
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))

    def run(maxFiles: Int): Set[(Long, Long, Long)] = {
      val out = Files.createTempDirectory("graft_sap_out").toString + "/o"
      val ckpt = Files.createTempDirectory("graft_sap_ck").toString
      Streams.awaitDone(Streams.annProbeStream(spark, src, schema, idx, out,
        ckpt, maxFilesPerTrigger = maxFiles), 60000)
      spark.read.parquet(out).select("query_id", "neighbor_id", "rank")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
    }

    val oneByOne = run(1)   // 4 micro-batches
    val allAtOnce = run(32) // 1 micro-batch
    assert(oneByOne == allAtOnce, "probe results depend on the batch split")
    // the static index means the stream equals the one-shot probe
    val oneShot = Similarity.annIvfIndexed(spark, idx, queries)
      .select("query_id", "neighbor_id", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(oneByOne == oneShot, "stream probe != one-shot batch probe")
    assert(oneShot.nonEmpty)
  }

  test("dedupIndexBatch retry after a completed append emits the same pairs — no self-pairs") {
    import graft.operators.Dedup
    val idx = Files.createTempDirectory("graft_sdi_retry_idx").toString
    val prs = Files.createTempDirectory("graft_sdi_retry_prs").toString
    val sink = Streams.dedupIndexBatch(idx, prs, 3, 64, 16, 0.5) _
    // two halves with cross-batch near-dups (docs 0..249 then 250..499
    // plus copies of batch-0 docs under new ids)
    val b0 = tables.documents.filter(col("doc_id") < 250)
      .select("doc_id", "text")
    val b1 = tables.documents.filter(col("doc_id") >= 250)
      .select("doc_id", "text")
      .unionByName(tables.documents.filter(col("doc_id") < 5)
        .select((col("doc_id") + 90000).as("doc_id"), col("text")))
    sink(b0, 0L)
    sink(b1, 1L)
    val once = spark.read.parquet(s"$prs/batch=1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(once.exists { case (a, b) => a < 5 && b >= 90000 },
      "expected cross-batch near-dup pairs")
    // simulate the worst retry: batch 1's sigs+bands ALREADY appended
    // (the crash hit after the index write, before checkpoint commit)
    sink(b1, 1L)
    val retried = spark.read.parquet(s"$prs/batch=1")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(retried == once, "retried batch changed the pair set")
    assert(retried.forall { case (a, b) => a != b }, "self-pair emitted")
  }

  test("tokenCountStream: merged shards are batch-split independent " +
    "and retry-idempotent; compaction preserves every count") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a c"),
      (2L, "a b"),
      (3L, "c c c a"),
      (4L, "d")).toDF("doc_id", "text")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))

    def run(maxFiles: Int): (String, Map[String, Long]) = {
      val src = Files.createTempDirectory("graft_shh_src").toFile.getPath
      val cnt = Files.createTempDirectory("graft_shh_cnt").toFile.getPath + "/c"
      val ckpt = Files.createTempDirectory("graft_shh_ck").toFile.getPath
      docs.repartition(4, col("doc_id")).write.mode("overwrite").json(src)
      Streams.awaitDone(Streams.tokenCountStream(spark, src, schema, cnt, ckpt,
        maxFilesPerTrigger = maxFiles), 60000)
      (cnt, Streams.heavyHittersFromCounts(spark, cnt, minCount = 1L)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
    }

    val exact = Map("a" -> 4L, "b" -> 2L, "c" -> 4L, "d" -> 1L)
    val (cntDir, oneByOne) = run(1)
    assert(oneByOne == exact)
    assert(run(4)._2 == exact, "counts differ on a different batch split")
    // threshold cuts exactly the sub-minCount words
    assert(Streams.heavyHittersFromCounts(spark, cntDir, minCount = 2L)
      .collect().map(_.getString(0)).toSet == Set("a", "b", "c"))
    // a retried micro-batch overwrites its own shard — no double count
    val retryDir = Files.createTempDirectory("graft_shh_rt").toFile
      .getPath + "/c"
    Streams.tokenCountBatch(retryDir)(docs.filter(col("doc_id") === 1L), 0L)
    Streams.tokenCountBatch(retryDir)(docs.filter(col("doc_id") === 1L), 0L)
    assert(Streams.heavyHittersFromCounts(spark, retryDir, 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
    // compaction folds shards without changing any reader's answer
    val compacted = Files.createTempDirectory("graft_shh_cp").toFile
      .getPath + "/c0"
    Streams.compactTokenCounts(spark, cntDir, compacted)
    assert(Streams.heavyHittersFromCounts(spark, compacted, 1L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap == exact)
  }

  test("imageHashStream: signature store reproduces the batch phash " +
    "dedup groups at any trigger size") {
    implicit val sp = spark
    val docs = tables.documents.filter(col("doc_id") % 7 === 0)
    val src = Files.createTempDirectory("graft_sid_src").toFile.getPath
    graft.operators.Multimodal.stagePatternImageFiles(docs, src)
    val batchRows = graft.operators.Multimodal.imagePhashDedup(docs)
      .collect().map(r => (r.getAs[Long]("media_id"),
        r.getAs[String]("ahash"), r.getAs[Long]("canonical_id"),
        r.getAs[Long]("group_size"),
        r.getAs[Boolean]("is_canonical"))).toSet

    def run(maxFiles: Int): Set[(Long, String, Long, Long, Boolean)] = {
      val sg = Files.createTempDirectory("graft_sid_sig").toFile
        .getPath + "/s"
      val ckpt = Files.createTempDirectory("graft_sid_ck").toFile.getPath
      Streams.awaitDone(Streams.imageHashStream(spark, src, sg, ckpt,
        maxFilesPerTrigger = maxFiles), 120000)
      Streams.imageDedupFromShards(spark, sg).collect()
        .map(r => (r.getAs[Long]("media_id"), r.getAs[String]("ahash"),
          r.getAs[Long]("canonical_id"), r.getAs[Long]("group_size"),
          r.getAs[Boolean]("is_canonical"))).toSet
    }
    assert(batchRows.nonEmpty)
    assert(run(16) == batchRows,
      "multi-batch ingest must derive the batch dedup groups")
    assert(run(1000) == batchRows,
      "single-batch ingest must derive the batch dedup groups")
  }

  test("expectationsStream: merged counters are batch-split independent " +
    "and a retried batch never double-counts") {
    import spark.implicits._
    val ev = Seq(
      (1L, "click", 5.0, 10L),
      (2L, "error", -1.0, 11L),
      (3L, "view", 500.0, 12L),
      (4L, "click", 7.0, 13L)).toDF("event_id", "event_type", "value",
      "user_id")
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType),
      StructField("user_id", LongType)))
    val exact = graft.operators.Expectations.metrics(ev,
      graft.operators.Expectations.EventSuite).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    def run(maxFiles: Int): Map[String, (Long, Long)] = {
      val src = Files.createTempDirectory("graft_sxp_src").toFile.getPath
      val md = Files.createTempDirectory("graft_sxp_md").toFile.getPath + "/m"
      val ckpt = Files.createTempDirectory("graft_sxp_ck").toFile.getPath
      ev.repartition(4, col("event_id")).write.mode("overwrite").json(src)
      Streams.awaitDone(Streams.expectationsStream(spark, src, schema, md,
        graft.operators.Expectations.EventSuite, ckpt,
        maxFilesPerTrigger = maxFiles), 60000)
      Streams.expectationsFromShards(spark, md).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    assert(run(1) == exact, "1-file batches must fold to the batch truth")
    assert(run(4) == exact, "one big batch must fold to the batch truth")
    // retry: same batch id twice overwrites, never doubles
    val rt = Files.createTempDirectory("graft_sxp_rt").toFile.getPath + "/m"
    Streams.expectationsBatch(rt, graft.operators.Expectations.EventSuite)(ev, 0L)
    Streams.expectationsBatch(rt, graft.operators.Expectations.EventSuite)(ev, 0L)
    assert(Streams.expectationsFromShards(spark, rt).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      == exact)
  }

  test("refIntegrityStream: orphan counters fold to the one-shot audit " +
    "against frozen dims on any split") {
    import spark.implicits._
    val fact = Seq((1L, 100L), (2L, 100L), (3L, 999L), (4L, 101L))
      .toDF("fk_id", "cust")
    val dim = Seq((100L, "x"), (101L, "y"), (102L, "z")).toDF("id", "nm")
    val schema = StructType(Seq(StructField("fk_id", LongType),
      StructField("cust", LongType)))
    val rels = Seq(("fact_dim", "cust", dim, "id"))
    val exact = graft.operators.Expectations.orphanCounts(Seq(
      graft.operators.Relation("fact_dim", fact, "cust", dim, "id")))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet

    def run(maxFiles: Int): Set[(String, Long, Long, Long)] = {
      val src = Files.createTempDirectory("graft_sri_src").toFile.getPath
      val rd = Files.createTempDirectory("graft_sri_rd").toFile.getPath + "/r"
      val ckpt = Files.createTempDirectory("graft_sri_ck").toFile.getPath
      fact.repartition(4, col("fk_id")).write.mode("overwrite").json(src)
      Streams.awaitDone(Streams.refIntegrityStream(spark, src, schema, rd,
        rels, ckpt, maxFilesPerTrigger = maxFiles), 60000)
      Streams.refIntegrityFromShards(spark, rd).collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    }
    assert(exact == Set(("fact_dim", 4L, 0L, 1L)))
    assert(run(1) == exact)
    assert(run(4) == exact)
  }

  test("profileStream: merged shards equal the one-shot profile on any batch split") {
    import spark.implicits._
    val rows = Seq(
      (1L, "a", Some(10.0)),
      (2L, "b", None),
      (3L, "a", Some(-4.5)),
      (4L, "c", Some(99.0))).toDF("id", "tag", "v")
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("tag", StringType), StructField("v", DoubleType)))

    def run(maxFiles: Int): Map[String, (Long, Long, Any, Any, Any, Any)] = {
      val src = Files.createTempDirectory("graft_spf_src").toFile.getPath
      val prf = Files.createTempDirectory("graft_spf_p").toFile.getPath + "/p"
      val ckpt = Files.createTempDirectory("graft_spf_ck").toFile.getPath
      rows.repartition(4, col("id")).write.mode("overwrite").json(src)
      Streams.awaitDone(Streams.profileStream(spark, src, schema, prf, ckpt,
        maxFilesPerTrigger = maxFiles), 60000)
      Streams.profileFromShards(spark, prf).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
          r.get(3), r.get(4), r.get(5), r.get(6))).toMap
    }

    val oneShot = graft.operators.Profile.mergeableProfile(rows)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.get(3), r.get(4), r.get(5), r.get(6))).toMap
    val split = run(1)
    assert(split == oneShot, "shard merge differs from the one-shot profile")
    assert(run(4) == oneShot, "profile depends on the batch split")
    assert(split("v") == (4L, 1L, -4.5, 99.0, null, null))
    assert(split("tag") == (4L, 0L, null, null, "a", "c"))
    // a retried batch id overwrites its own shard — stats never double
    val rt = Files.createTempDirectory("graft_spf_rt").toFile.getPath + "/p"
    Streams.profileBatch(rt)(rows.filter(col("id") <= 2L), 0L)
    Streams.profileBatch(rt)(rows.filter(col("id") <= 2L), 0L)
    val merged = Streams.profileFromShards(spark, rt).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged("id") == 2L)
    // the mergeable slice agrees with the full profile on every
    // shared statistic (distinct is the deliberate difference)
    val full = graft.operators.Profile.tableProfile(rows)
      .drop("n_distinct").collect().map(_.toSeq).toSet
    val slice = graft.operators.Profile.mergeableProfile(rows)
      .collect().map(_.toSeq).toSet
    assert(full == slice)
  }

  test("cellStatsStream: merged count shards equal the one-shot audit " +
       "on any batch split; a retried batch never double-counts") {
    val emb = tables.embeddings
    val cents = graft.operators.Similarity
      .trainCentroids(emb, cacheKey = Some(sfDir))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet

    val oneShot = canon(graft.operators.Similarity
      .cellStats(emb, cacheKey = Some(sfDir)))
    def run(maxFiles: Int): Set[Seq[Any]] = {
      val src = Files.createTempDirectory("graft_scs_src").toFile.getPath
      val cnt = Files.createTempDirectory("graft_scs_c").toFile.getPath + "/c"
      val ckpt = Files.createTempDirectory("graft_scs_ck").toFile.getPath
      emb.select("vec_id", "embedding").repartition(4)
        .write.mode("overwrite").parquet(src)
      Streams.awaitDone(Streams.cellStatsStream(spark, src, schema, cents,
        cnt, ckpt, maxFilesPerTrigger = maxFiles), 60000)
      canon(Streams.cellStatsFromShards(spark, cnt, nlist = 16))
    }
    assert(run(1) == oneShot, "shard merge differs from one-shot audit")
    assert(run(4) == oneShot, "cell stats depend on the batch split")
    // retried batch id overwrites its own shard — counts never double
    val rt = Files.createTempDirectory("graft_scs_rt").toFile.getPath + "/c"
    Streams.cellCountBatch(cents, rt)(emb.limit(10), 0L)
    Streams.cellCountBatch(cents, rt)(emb.limit(10), 0L)
    val n = spark.read.parquet(rt).agg(sum(col("n"))).head().getLong(0)
    assert(n == 10L, s"retried batch double-counted: $n")
  }

  test("mixStream: accumulated cells equal the batch drift on any split; " +
       "retry never double-counts") {
    val docs = tables.documents
    val incoming = docs.filter(col("doc_id") % 2 === 0)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("lang", StringType), StructField("source", StringType)))
    def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val oneShot = canon(
      graft.operators.TextAnalysis.mixDrift(docs, incoming))
    def run(maxFiles: Int): Set[Seq[Any]] = {
      val src = Files.createTempDirectory("graft_smx_src").toFile.getPath
      val cel = Files.createTempDirectory("graft_smx_c").toFile.getPath + "/c"
      val ckpt = Files.createTempDirectory("graft_smx_ck").toFile.getPath
      incoming.select("doc_id", "lang", "source").repartition(4)
        .write.mode("overwrite").json(src)
      Streams.awaitDone(Streams.mixStream(spark, src, schema, cel, ckpt,
        maxFilesPerTrigger = maxFiles), 60000)
      canon(Streams.mixDriftVsBase(spark, cel, docs))
    }
    assert(run(1) == oneShot, "shard merge differs from the batch drift")
    assert(run(4) == oneShot, "mix drift depends on the batch split")
    // a retried batch id overwrites its own shard
    val rt = Files.createTempDirectory("graft_smx_rt").toFile.getPath + "/c"
    Streams.mixCellsBatch(rt)(docs.limit(10), 0L)
    Streams.mixCellsBatch(rt)(docs.limit(10), 0L)
    val n = spark.read.parquet(rt).agg(sum(col("c"))).head().getLong(0)
    assert(n == 10L, s"retried batch double-counted: $n")
  }

  test("curationStream: filtered + deduped sink is batch-split independent") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta gamma delta"),   // exact dup of 1, other file
      (3L, "epsilon zeta eta theta iota"),
      (4L, "kappa lambda mu nu xi omicron"))
      .toDF("doc_id", "text")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))

    def run(maxFiles: Int): Set[(Long, Long, Double)] = {
      val src = Files.createTempDirectory("graft_cur_src").toFile.getPath
      val out = Files.createTempDirectory("graft_cur_out").toFile.getPath + "/o"
      val ckpt = Files.createTempDirectory("graft_cur_ck").toFile.getPath
      // one doc per file so maxFiles controls the batch split
      docs.repartition(4, col("doc_id")).write.mode("overwrite").json(src)
      Streams.awaitDone(Streams.curationStream(spark, src, schema, out, ckpt,
        maxFilesPerTrigger = maxFiles), 60000)
      spark.read.parquet(out)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    }

    val oneByOne = run(1)
    val allAtOnce = run(4)
    assert(oneByOne == allAtOnce,
      "sink differs between 1-file and 4-file triggers")
    // the exact dup collapsed: at most one row per distinct kept text
    assert(oneByOne.size == oneByOne.map(_._1).size)
    // batch analog: distinct kept texts under the same classifier
    val expected = graft.operators.TextAnalysis.qualityClassifier(docs)
      .filter(col("clf_score") > 0.0).join(docs, "doc_id")
      .select(col("text")).distinct().count()
    assert(oneByOne.size == expected)
  }

  test("hourlyCountStream: the monitor from merged shards equals the " +
       "one-shot batch anomaly on any split; retries never double-count") {
    val ev = tables.events.select("event_id", "ts", "event_type")
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", LongType), StructField("event_type", StringType)))
    def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val oneShot = canon(graft.operators.TimeSeries.anomaly(tables.events))
    def run(maxFiles: Int): Set[Seq[Any]] = {
      val src = Files.createTempDirectory("graft_sta_src").toFile.getPath
      val cnt = Files.createTempDirectory("graft_sta_cnt").toFile.getPath + "/c"
      val ckpt = Files.createTempDirectory("graft_sta_ck").toFile.getPath
      ev.repartition(4).write.mode("overwrite").json(src)
      Streams.awaitDone(Streams.hourlyCountStream(spark, src, schema, cnt, ckpt,
        maxFilesPerTrigger = maxFiles), 60000)
      canon(Streams.anomalyFromShards(spark, cnt))
    }
    assert(run(1) == oneShot, "1-file triggers differ from batch anomaly")
    assert(run(4) == oneShot, "single trigger differs from batch anomaly")
    // the SAME store serves the cross-correlation monitor: fold once
    // more and compare against the one-shot batch matrix
    val xc = canon(graft.operators.TimeSeries.crosscorr(tables.events))
    val src2 = Files.createTempDirectory("graft_stx_src").toFile.getPath
    val cnt2 = Files.createTempDirectory("graft_stx_cnt").toFile.getPath + "/c"
    val ck2 = Files.createTempDirectory("graft_stx_ck").toFile.getPath
    ev.repartition(4).write.mode("overwrite").json(src2)
    Streams.awaitDone(Streams.hourlyCountStream(spark, src2, schema, cnt2, ck2,
      maxFilesPerTrigger = 2), 60000)
    assert(canon(Streams.crosscorrFromShards(spark, cnt2)) == xc,
      "crosscorr from merged shards differs from the batch matrix")
    // a retried batch id overwrites its own count shard
    val rt = Files.createTempDirectory("graft_sta_rt").toFile.getPath + "/c"
    Streams.hourlyCountBatch(rt)(ev.limit(50), 0L)
    Streams.hourlyCountBatch(rt)(ev.limit(50), 0L)
    val n = spark.read.parquet(rt).agg(sum(col("n"))).head().getLong(0)
    assert(n == 50L, s"retried batch double-counted: $n")
  }

  test("asofEnrichStream: per-batch enrichment equals the one-shot " +
       "as-of on any batch split; a retried batch is idempotent") {
    import spark.implicits._
    val left = Seq((1L, 10L, 100L, 1.0), (2L, 10L, 250L, 2.0),
      (3L, 20L, 100L, 3.0), (4L, 99L, 500L, 4.0))
      .toDF("event_id", "user_id", "ts", "value")
    val right = Seq((10L, 100L, 7L, 0.5), (10L, 200L, 8L, 0.6),
      (20L, 150L, 9L, 0.7))
      .toDF("user_id", "ts", "event_id", "value")
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("user_id", LongType), StructField("ts", LongType),
      StructField("value", DoubleType)))
    def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val oneShot = canon(graft.operators.AsOf.asofJoin(left, right,
      "user_id", "ts", Seq("event_id", "value")))
    def run(maxFiles: Int): Set[Seq[Any]] = {
      val src = Files.createTempDirectory("graft_sas_src").toFile.getPath
      val out = Files.createTempDirectory("graft_sas_out").toFile.getPath + "/o"
      val ckpt = Files.createTempDirectory("graft_sas_ck").toFile.getPath
      left.repartition(4, col("event_id")).write.mode("overwrite").json(src)
      Streams.awaitDone(Streams.asofEnrichStream(spark, src, schema, right,
        out, ckpt, key = "user_id", tsCol = "ts",
        rightCols = Seq("event_id", "value"),
        maxFilesPerTrigger = maxFiles), 60000)
      canon(spark.read.parquet(out)
        .select("event_id", "user_id", "ts", "value",
          "matched_event_id", "matched_value"))
    }
    assert(run(1) == oneShot, "1-file triggers differ from batch as-of")
    assert(run(4) == oneShot, "single trigger differs from batch as-of")
    // a retried batch id overwrites its own shard, never duplicates
    val rt = Files.createTempDirectory("graft_sas_rt").toFile.getPath + "/o"
    Streams.asofEnrichBatch(right, "user_id", "ts",
      Seq("event_id", "value"), rt)(left, 0L)
    Streams.asofEnrichBatch(right, "user_id", "ts",
      Seq("event_id", "value"), rt)(left, 0L)
    assert(spark.read.parquet(rt).count() == left.count())
  }

  test("countMinStream: merged shards equal the one-shot sketch on any " +
       "batch split; a retried batch never double-counts") {
    val docs = tables.documents.limit(300)
    val probes = Seq("the", "table", "zzzmissing")
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def canon(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
      df.collect().map(_.toSeq).toSet
    val oneShot = canon(graft.operators.TextAnalysis
      .countMinAudit(docs, width = 64, depth = 4, probes = probes))
    def run(maxFiles: Int): Set[Seq[Any]] = {
      val src = Files.createTempDirectory("graft_scm_src").toFile.getPath
      val st = Files.createTempDirectory("graft_scm_st").toFile.getPath + "/s"
      val ckpt = Files.createTempDirectory("graft_scm_ck").toFile.getPath
      docs.select("doc_id", "text").repartition(4)
        .write.mode("overwrite").json(src)
      Streams.awaitDone(Streams.countMinStream(spark, src, schema, st, ckpt,
        width = 64, depth = 4, probes = probes,
        maxFilesPerTrigger = maxFiles), 60000)
      canon(Streams.countMinFromShards(spark, st, width = 64, depth = 4,
        probes = probes))
    }
    assert(run(1) == oneShot, "shard merge differs from one-shot sketch")
    assert(run(4) == oneShot, "estimates depend on the batch split")
    // retried batch id overwrites its own shard — never double-counts
    val rt = Files.createTempDirectory("graft_scm_rt").toFile.getPath + "/s"
    Streams.countMinBatch(rt, 64, 4, probes)(docs.limit(10), 0L)
    Streams.countMinBatch(rt, 64, 4, probes)(docs.limit(10), 0L)
    val total = spark.read.parquet(s"$rt/counters")
      .agg(sum(col("n"))).head().getLong(0)
    val tokenMass = docs.limit(10)
      .select(explode(split(col("text"), " "))).count() * 4
    assert(total == tokenMass, s"retried batch double-counted: $total")
  }

  test("cdfApplyBatch: keyed CDF application is idempotent under " +
    "at-least-once redelivery, handles delete-only keys, and catches " +
    "up every unapplied version") {
    import graft.operators.VersionedTable
    val src = Files.createTempDirectory("graft_cdfab").toFile.getPath + "/s"
    val rep = Files.createTempDirectory("graft_cdfab").toFile.getPath + "/r"
    val cust = tables.customer
      .select("c_custkey", "c_name", "c_acctbal")
    VersionedTable.write(cust.filter(col("c_custkey") % 2 === 0), src) // v0
    VersionedTable.write(VersionedTable.read(spark, src, Some(0)), rep,
      operation = "SEED[v=0]")
    VersionedTable.append(spark,
      cust.filter(col("c_custkey") % 2 =!= 0), src)                    // v1
    VersionedTable.update(spark, src, "c_custkey % 5 = 0",
      Seq("c_acctbal" -> "c_acctbal + 1.0"))                           // v2
    VersionedTable.deleteVectors(spark, src, "c_custkey % 7 = 0")      // v3
    val empty = spark.emptyDataFrame
    val apply = graft.streaming.Streams.cdfApplyBatch(spark, src, rep,
      Seq("c_custkey")) _
    apply(empty, 0L)
    // redelivery of the same trigger applies NOTHING new (markers)
    val opsAfter = VersionedTable.operations(rep)
    apply(empty, 1L)
    assert(VersionedTable.operations(rep) == opsAfter,
      "redelivered trigger must be a no-op")
    // the replica equals the source snapshot — including the
    // delete-only keys (the DV hop has no matching inserts)
    val srcRows = VersionedTable.read(spark, src)
      .orderBy("c_custkey").collect().toSeq
    val repRows = VersionedTable.read(spark, rep)
      .orderBy("c_custkey").collect().toSeq
    assert(repRows == srcRows)
    // a later commit is caught up by the next trigger
    VersionedTable.delete(spark, src, "c_custkey % 11 = 0")            // v4
    apply(empty, 2L)
    assert(VersionedTable.read(spark, rep).count() ==
      VersionedTable.read(spark, src).count())
    // the replica's history shows only O(delta) keyed verbs
    assert(VersionedTable.operations(rep).count(_.startsWith("CDF_")) >= 3)
  }
}
