package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.VersionedTable

/** The `graft` DataSource V2 front door: `spark.read.format("graft")`
  * must equal the Scala API read bit-for-bit across the format's whole
  * contract (time travel, DVs, column mapping, schema evolution),
  * pushed filters must prune FILES through the manifest's
  * stats→partition→bloom skipping exactly like the API path, pruned
  * columns must reach the parquet scan, and the V1 write/sink
  * fallbacks must run the format's own commit protocol. */
class GraftDataSourceSpec extends SparkSpec {

  private def fresh = Files.createTempDirectory("graft_dsv2").toString

  private def sorted(df: org.apache.spark.sql.DataFrame) =
    df.orderBy(df.columns.map(col).toIndexedSeq: _*).collect().toSeq

  test("format(\"graft\") read equals VersionedTable.read; versionAsOf " +
    "and timestampAsOf time-travel") {
    val path = s"$fresh/t"
    VersionedTable.write(tables.nation.repartition(3), path)
    val t0 = VersionedTable.commitTimes(path).last._2
    Thread.sleep(5)
    VersionedTable.delete(spark, path, "n_nationkey >= 20")
    val cur = spark.read.format("graft").load(path)
    assert(sorted(cur) == sorted(VersionedTable.read(spark, path)))
    assert(cur.count() == 20)
    val v0 = spark.read.format("graft").option("versionAsOf", "0")
      .load(path)
    assert(v0.count() == 25)
    val ts = spark.read.format("graft")
      .option("timestampAsOf", t0.toString).load(path)
    assert(ts.count() == 25)
  }

  test("pushed filters prune files exactly like the API path (stats + " +
    "bloom), and the parquet scan sees the pushdown") {
    val path = s"$fresh/t"
    val df = spark.range(4096).select(col("id").as("k"),
      (col("id") % 97).as("v")).repartition(8)
    VersionedTable.write(df, path)
    VersionedTable.setTableProperties(path,
      Map(VersionedTable.bloomColumnsProp -> "k"))
    VersionedTable.buildBloomIndex(spark, path)
    val v = VersionedTable.latestVersion(path).get
    // the connector's pruner and the API pruner shortlist THE SAME files
    val viaFilters = VersionedTable.pruneEntriesForFilters(spark, path, v,
      Seq(org.apache.spark.sql.sources.EqualTo("k", 1234L)))
    val viaApi = VersionedTable.prunedBloomEntries(spark, path, v,
      "k", Seq(1234L))
    assert(viaFilters.map(_.name).toSet == viaApi.map(_.name).toSet)
    assert(viaFilters.size < 8, "bloom must prune the 8-file layout")
    // end to end: the pushed EqualTo yields exactly the API row
    val got = spark.read.format("graft").load(path)
      .filter(col("k") === 1234L).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1234L, 1234L % 97)))
    // the physical plan carries the filter into the scan (the v2
    // relation reports its pushed filters)
    val plan = spark.read.format("graft").load(path)
      .filter(col("k") === 1234L).queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan") || plan.contains("graft"))
  }

  test("range pushdown prunes through numeric stats on a clustered " +
    "layout; column pruning reaches the reader") {
    val path = s"$fresh/t"
    VersionedTable.write(tables.events
      .select("event_id", "user_id", "value"), path)
    VersionedTable.optimize(spark, path, Seq("value"), numFiles = 8)
    val v = VersionedTable.latestVersion(path).get
    import org.apache.spark.sql.sources._
    val pruned = VersionedTable.pruneEntriesForFilters(spark, path, v,
      Seq(GreaterThanOrEqual("value", 50.0), LessThanOrEqual("value", 60.0)))
    assert(pruned.size < VersionedTable.manifestEntries(path, v).size)
    val dsv2 = spark.read.format("graft").load(path)
      .filter(col("value") >= 50.0 && col("value") <= 60.0)
      .select("event_id")
    val api = VersionedTable.readWhere(spark, path, "value", 50.0, 60.0)
      .select("event_id")
    assert(sorted(dsv2) == sorted(api))
  }

  test("deletion vectors apply through the connector: MoR-deleted " +
    "rows never surface") {
    val path = s"$fresh/t"
    VersionedTable.write(
      tables.nation.repartitionByRange(5, col("n_nationkey")), path)
    VersionedTable.deleteVectors(spark, path, "n_nationkey % 3 = 0")
    val got = spark.read.format("graft").load(path)
    assert(sorted(got) == sorted(VersionedTable.read(spark, path)))
    assert(got.filter(col("n_nationkey") % 3 === 0).count() == 0)
    assert(got.count() == 16)
  }

  test("column mapping: a renamed table reads under LOGICAL names; " +
    "schema evolution: pre-evolution files read the new column as null") {
    val path = s"$fresh/t"
    VersionedTable.write(tables.nation.repartition(2)
      .select("n_nationkey", "n_name"), path)
    VersionedTable.renameColumn(spark, path, "n_name", "nation")
    VersionedTable.addColumn(spark, path, "flag", "CAST(NULL AS BIGINT)")
    VersionedTable.append(spark, spark.range(1).select(
      lit(99).cast("int").as("n_nationkey"), lit("XX").as("nation"),
      lit(7L).as("flag")), path)
    val got = spark.read.format("graft").load(path)
    assert(got.columns.toSeq == Seq("n_nationkey", "nation", "flag"))
    assert(got.count() == 26)
    assert(got.filter(col("flag").isNull).count() == 25)
    assert(got.filter(col("flag") === 7L).select("nation")
      .head.getString(0) == "XX")
    assert(sorted(got) == sorted(VersionedTable.read(spark, path)))
  }

  test("df.write.format(\"graft\"): append/overwrite/errorifexists/" +
    "ignore run the commit protocol") {
    val path = s"$fresh/t"
    val a = spark.range(10).toDF("id")
    val b = spark.range(10, 15).toDF("id")
    a.write.format("graft").save(path) // default ErrorIfExists: creates v0
    assert(spark.read.format("graft").load(path).count() == 10)
    b.write.format("graft").mode(SaveMode.Append).save(path)
    assert(spark.read.format("graft").load(path).count() == 15)
    assert(VersionedTable.latestVersion(path).contains(1))
    b.write.format("graft").mode(SaveMode.Overwrite).save(path)
    assert(spark.read.format("graft").load(path).count() == 5)
    b.write.format("graft").mode(SaveMode.Ignore).save(path) // no-op
    assert(VersionedTable.latestVersion(path).contains(2))
    intercept[Exception] {
      b.write.format("graft").mode(SaveMode.ErrorIfExists).save(path)
    }
    // time travel sees every write as a version
    assert(spark.read.format("graft").option("versionAsOf", "0")
      .load(path).count() == 10)
  }

  test("CREATE TABLE ... USING graft AS SELECT, then SQL reads it back") {
    val path = s"$fresh/ctas"
    spark.sql("DROP TABLE IF EXISTS graft_ctas")
    spark.sql(s"""
      CREATE TABLE graft_ctas USING graft LOCATION '$path'
      AS SELECT id AS k, id % 7 AS v FROM range(100)""")
    try {
      assert(spark.sql("SELECT count(*) FROM graft_ctas").head.getLong(0)
        == 100)
      assert(spark.sql("SELECT sum(v) FROM graft_ctas").head.getLong(0)
        == (0L until 100L).map(_ % 7).sum)
      // it IS a versioned table underneath
      assert(VersionedTable.latestVersion(path).contains(0))
      // INSERT INTO runs the commit protocol as a new version
      spark.sql("INSERT INTO graft_ctas SELECT 1000 AS k, -1 AS v")
      assert(spark.sql("SELECT count(*) FROM graft_ctas").head.getLong(0)
        == 101)
      assert(VersionedTable.latestVersion(path).contains(1))
    } finally spark.sql("DROP TABLE IF EXISTS graft_ctas")
  }

  test("writeStream.format(\"graft\"): appends commit per micro-batch " +
    "and a replayed batch id is a no-op (exactly-once)") {
    val dir = fresh
    val (src, path, ckpt) = (s"$dir/src", s"$dir/t", s"$dir/ckpt")
    spark.range(5).toDF("id").write.parquet(src)
    def run(): Unit = {
      val q = spark.readStream
        .schema("id LONG").parquet(src)
        .writeStream.format("graft")
        .option("path", path).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      graft.streaming.Streams.awaitDone(q, 60000)
    }
    run()
    assert(spark.read.format("graft").load(path).count() == 5)
    val vAfterFirst = VersionedTable.latestVersion(path).get
    // restart with NO new data: the replayed/empty lifecycle must not
    // duplicate rows
    run()
    assert(spark.read.format("graft").load(path).count() == 5)
    // new file → one more commit, rows append once
    spark.range(5, 8).toDF("id").write.mode("append").parquet(src)
    run()
    assert(spark.read.format("graft").load(path).count() == 8)
    assert(VersionedTable.operations(path)
      .count(_.startsWith("STREAM APPEND")) >= 2)
    assert(VersionedTable.latestVersion(path).get > vAfterFirst)
  }

  test("writeStream update mode with mergeKeys upserts per batch") {
    val dir = fresh
    val (src, path, ckpt) = (s"$dir/src", s"$dir/t", s"$dir/ckpt")
    spark.range(10).select(col("id").as("k"), lit(1L).as("v"))
      .write.parquet(src)
    def run(): Unit = {
      val q = spark.readStream.schema("k LONG, v LONG").parquet(src)
        .writeStream.format("graft")
        .outputMode("update")
        .option("mergeKeys", "k")
        .option("path", path).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      graft.streaming.Streams.awaitDone(q, 60000)
    }
    run()
    assert(spark.read.format("graft").load(path).count() == 10)
    spark.range(5, 12).select(col("id").as("k"), lit(2L).as("v"))
      .write.mode("append").parquet(src)
    run()
    val got = spark.read.format("graft").load(path)
    assert(got.count() == 12)
    assert(got.filter(col("v") === 2L).count() == 7)
  }
}
