package graft.operators

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graft.ListenerSync
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Spark jobs per DML commit on a multi-file bloom-indexed table: a
  * commit runs its touch discovery (a key census plus one touch scan
  * for keyed verbs, one touch scan for predicate verbs) and its write
  * job — no read-back of the written files to index them, no separate
  * duplicate-key or affected-row count. The budgets are the counts of
  * that shape on a local session; a commit that grows an extra query
  * fails here. */
class CommitJobBudgetSpec extends SparkSpec {

  private def jobs(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        n.incrementAndGet(); ()
      }
    }
    ListenerSync.drain(sc)
    sc.addSparkListener(l)
    try { body; ListenerSync.drain(sc); n.get }
    finally sc.removeSparkListener(l)
  }

  test("UPDATE, DELETE, SQL MERGE and upsertLatest stay within their " +
    "job budgets on a multi-file bloom-indexed table") {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    val path = Files.createTempDirectory("graft_jobs").toString + "/t"
    VersionedTable.write(spark.range(8192).select(col("id").as("k"),
      (col("id") % 97).as("grp"), col("id").as("seq"))
      .repartitionByRange(8, col("k")), path)
    VersionedTable.setTableProperties(path,
      Map(VersionedTable.bloomColumnsProp -> "k"))
    VersionedTable.buildBloomIndex(spark, path)
    val t = s"graft.`$path`"
    spark.range(4000, 4064).select(col("id").as("k"),
      lit(-1L).as("grp"), col("id").as("seq"))
      .union(spark.range(9000, 9016).select(col("id").as("k"),
        lit(-2L).as("grp"), col("id").as("seq")))
      .createOrReplaceTempView("budget_src")
    val got = Seq(
      "update" -> jobs(spark.sql(
        s"UPDATE $t SET grp = grp + 100 WHERE k BETWEEN 100 AND 140")),
      "delete" -> jobs(spark.sql(s"DELETE FROM $t WHERE grp = 5")),
      "merge" -> jobs(spark.sql(s"""MERGE INTO $t d USING budget_src s
        ON d.k = s.k WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")),
      "upsertLatest" -> jobs(VersionedTable.upsertLatest(spark, path,
        spark.range(7000, 7032).select(col("id").as("k"),
          lit(-3L).as("grp"), (col("id") + 1).as("seq")),
        "k", "seq", "seq")))
    info(got.map { case (op, n) => s"$op=$n" }.mkString(" "))
    // touch scan + write for the predicate verbs; census (its
    // aggregate's map stage and the capped collect) + touch scan +
    // the rewrite's shuffle stages + write for the keyed ones. With a
    // key-hash collect, a re-joining touch scan, separate count and
    // duplicate-key queries and a read-back of the written files to
    // index them, these were 8, 9, 20 and 10.
    val budget = Map("update" -> 2, "delete" -> 2, "merge" -> 7,
      "upsertLatest" -> 4)
    got.foreach { case (op, n) =>
      assert(n <= budget(op), s"$op ran $n Spark jobs (budget ${budget(op)})")
    }
    // the commits stay exact
    val out = VersionedTable.read(spark, path)
    assert(out.filter(col("grp") === -1L).count() == 64)
    assert(out.filter(col("grp") === -2L).count() == 16)
    assert(out.filter(col("grp") === -3L).count() == 32)
  }
}
