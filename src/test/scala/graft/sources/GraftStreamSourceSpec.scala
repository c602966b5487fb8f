package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.VersionedTable

/** `spark.readStream.format("graft")` — the versioned table as a V2
  * micro-batch streaming SOURCE. Contract: first batch = initial
  * snapshot (DV-deleted rows never appear), later batches = appended
  * files only (O(change) per trigger), offsets checkpoint-replayable
  * (restart emits nothing twice), non-append commits fail loudly
  * unless skipChangeCommits skips them. */
class GraftStreamSourceSpec extends SparkSpec {

  private def fresh = Files.createTempDirectory("graft_gss").toString

  private def drain(src: String, out: String, ckpt: String,
                    opts: Map[String, String] = Map.empty): Unit = {
    val reader = spark.readStream.format("graft")
    opts.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load(src)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .start()
    graft.streaming.Streams.awaitDone(q, 60000)
  }

  test("initial snapshot + append deltas; restart re-emits nothing") {
    val dir = fresh
    val (src, out, ckpt) = (s"$dir/t", s"$dir/out", s"$dir/ckpt")
    VersionedTable.write(spark.range(100).select(col("id").as("k"),
      (col("id") % 5).as("v")), src)
    // a MoR delete BEFORE the stream starts: gone rows must never
    // appear in the initial snapshot
    VersionedTable.deleteVectors(spark, src, "k >= 90")
    drain(src, out, ckpt)
    assert(spark.read.parquet(out).count() == 90)
    // appends land while the stream is down; restart emits ONLY them
    VersionedTable.append(spark, spark.range(100, 120)
      .select(col("id").as("k"), (col("id") % 5).as("v")), src)
    VersionedTable.append(spark, spark.range(120, 130)
      .select(col("id").as("k"), (col("id") % 5).as("v")), src)
    drain(src, out, ckpt)
    val got = spark.read.parquet(out)
    assert(got.count() == 120)
    assert(got.select(countDistinct("k")).head.getLong(0) == 120)
    // a third drain with no new commits: nothing re-emits
    drain(src, out, ckpt)
    assert(spark.read.parquet(out).count() == 120)
  }

  test("a non-append commit fails loudly; skipChangeCommits skips it " +
    "and later appends still flow") {
    val dir = fresh
    val (src, out, ckpt) = (s"$dir/t", s"$dir/out", s"$dir/ckpt")
    VersionedTable.write(spark.range(50).select(col("id").as("k"),
      lit(1L).as("v")), src)
    drain(src, out, ckpt)
    assert(spark.read.parquet(out).count() == 50)
    VersionedTable.update(spark, src, "k < 5", Seq("v" -> "v + 1"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain(src, out, ckpt)
    }
    assert(e.getMessage.contains("skipChangeCommits") ||
      Option(e.getCause).exists(_.getMessage.contains("skipChangeCommits")))
    // with the option: the rewrite commit is skipped, the append flows
    // (fresh checkpoint AND fresh sink dir — a file sink's
    // _spark_metadata silently drops a batch id it has already seen)
    VersionedTable.append(spark, spark.range(50, 60)
      .select(col("id").as("k"), lit(1L).as("v")), src)
    drain(src, s"$dir/out2", s"$dir/ckpt2",
      Map("skipChangeCommits" -> "true"))
    // fresh checkpoint: initial snapshot (60 live rows) in one batch
    assert(spark.read.parquet(s"$dir/out2").count() == 60)
  }

  test("streamed total equals the batch read after a multi-wave " +
    "append history") {
    val dir = fresh
    val (src, out, ckpt) = (s"$dir/t", s"$dir/out", s"$dir/ckpt")
    val ev = tables.events.select("event_id", "user_id", "value")
    VersionedTable.write(ev.filter(col("event_id") % 3 === 0), src)
    VersionedTable.append(spark, ev.filter(col("event_id") % 3 === 1), src)
    drain(src, out, ckpt)
    VersionedTable.append(spark, ev.filter(col("event_id") % 3 === 2), src)
    drain(src, out, ckpt)
    val got = spark.read.parquet(out)
    assert(got.count() == ev.count())
    assert(got.agg(sum("event_id")).head.get(0) ==
      ev.agg(sum("event_id")).head.get(0))
  }
}
