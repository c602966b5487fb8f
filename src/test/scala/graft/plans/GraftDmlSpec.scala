package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.VersionedTable

/** SQL DML over graft catalog tables — the reference's primary
  * mutation surface (`UPDATE … SET … CASE WHEN`, reference
  * `1 Data ingestion.py`:150-176; notebook 2's `MERGE INTO`) routed
  * through the post-hoc [[GraftDmlRule]] into the format's
  * file-granular verbs. */
class GraftDmlSpec extends SparkSpec {

  private def fresh = Files.createTempDirectory("graft_dml").toString

  private def withCatalog[T](body: => T): T = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[graft.sources.GraftCatalog].getName)
    body
  }

  private def mk(path: String, n: Int = 100, files: Int = 5): Unit =
    VersionedTable.write(spark.range(n)
      .select(col("id").as("k"), (col("id") % 7).as("grp"),
        (col("id") * 10).cast("double").as("amt"))
      .repartition(files), path)

  private def rows(path: String): Seq[(Long, Long, Double)] =
    VersionedTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(_._1)

  test("DELETE FROM removes matching rows, file-granularly") {
    withCatalog {
      val path = s"$fresh/t"
      mk(path)
      spark.sql(s"DELETE FROM graft.`$path` WHERE k >= 90 AND grp = 6")
      val got = rows(path)
      assert(got.size == 98 && !got.exists(r => r._1 >= 90 && r._2 == 6))
      // only files holding matching rows were rewritten; the rest
      // re-linked (same entry names survive into v1)
      val v0 = VersionedTable.manifestEntries(path, 0).map(_.name).toSet
      val v1 = VersionedTable.manifestEntries(path, 1).map(_.name).toSet
      assert((v0 & v1).nonEmpty, "untouched files must re-link")
      assert(v1 != v0, "touched files must be rewritten")
    }
  }

  test("DELETE with a NULL condition keeps the row (SQL semantics)") {
    withCatalog {
      val path = s"$fresh/t"
      VersionedTable.write(spark.sql(
        "SELECT * FROM VALUES (1, 10), (2, NULL), (3, 30) AS t(k, v)"), path)
      spark.sql(s"DELETE FROM graft.`$path` WHERE v > 15")
      assert(VersionedTable.read(spark, path).count() == 2) // NULL kept
    }
  }

  test("UPDATE … SET … CASE WHEN (the reference's idiom) + swap") {
    withCatalog {
      val path = s"$fresh/t"
      mk(path, n = 50)
      spark.sql(s"""
        UPDATE graft.`$path`
        SET amt = CASE WHEN grp = 0 THEN amt * 2 ELSE amt + 1 END
        WHERE k < 10""")
      val got = rows(path)
      got.foreach { case (k, grp, amt) =>
        val expect =
          if (k < 10) { if (grp == 0) k * 10.0 * 2 else k * 10.0 + 1 }
          else k * 10.0
        assert(amt == expect, s"k=$k grp=$grp amt=$amt")
      }
      // swap semantics: both RHS evaluate pre-update
      val p2 = s"$fresh/swap"
      VersionedTable.write(spark.sql(
        "SELECT * FROM VALUES (1L, 2L) AS t(a, b)"), p2)
      spark.sql(s"UPDATE graft.`$p2` SET a = b, b = a")
      val r = VersionedTable.read(spark, p2).head
      assert(r.getLong(0) == 2 && r.getLong(1) == 1)
    }
  }

  test("MERGE INTO: classic upsert (UPDATE SET * / INSERT *)") {
    withCatalog {
      val path = s"$fresh/t"
      mk(path, n = 100, files = 8)
      spark.range(95, 105)
        .select(col("id").as("k"), lit(99L).as("grp"),
          lit(-1.0).as("amt"))
        .createOrReplaceTempView("dml_src")
      spark.sql(s"""
        MERGE INTO graft.`$path` t USING dml_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      val got = rows(path)
      assert(got.size == 105)
      got.filter(_._1 >= 95).foreach { case (k, grp, amt) =>
        assert(grp == 99 && amt == -1.0, s"k=$k")
      }
      assert(got.filter(_._1 < 95).forall(r => r._3 == r._1 * 10.0))
      // file-granular: some v0 files re-linked
      val v0 = VersionedTable.manifestEntries(path, 0).map(_.name).toSet
      val v1 = VersionedTable.manifestEntries(path, 1).map(_.name).toSet
      assert((v0 & v1).nonEmpty, "untouched files must re-link")
    }
  }

  test("MERGE INTO: conditional clauses, mixed t/s refs, DELETE") {
    withCatalog {
      val path = s"$fresh/t"
      mk(path, n = 20, files = 2)
      spark.sql("""
        SELECT * FROM VALUES (1L, 5.0), (2L, 6.0), (3L, 7.0), (25L, 8.0)
        AS s(k, delta)""").createOrReplaceTempView("dml_src2")
      spark.sql(s"""
        MERGE INTO graft.`$path` t USING dml_src2 s ON t.k = s.k
        WHEN MATCHED AND t.k = 1 THEN DELETE
        WHEN MATCHED THEN UPDATE SET amt = t.amt + s.delta
        WHEN NOT MATCHED AND s.delta > 7.5 THEN
          INSERT (k, grp, amt) VALUES (s.k, -1L, s.delta)""")
      val got = rows(path)
      assert(!got.exists(_._1 == 1), "matched DELETE")
      assert(got.find(_._1 == 2).get._3 == 26.0, "t.amt + s.delta")
      assert(got.find(_._1 == 3).get._3 == 37.0)
      val ins = got.find(_._1 == 25).get
      assert(ins._2 == -1 && ins._3 == 8.0, "conditional INSERT")
      assert(got.find(_._1 == 5).get._3 == 50.0, "unmatched target kept")
    }
  }

  test("MERGE INTO: WHEN NOT MATCHED BY SOURCE") {
    withCatalog {
      val path = s"$fresh/t"
      mk(path, n = 10, files = 2)
      spark.range(0, 5).select(col("id").as("k"))
        .createOrReplaceTempView("dml_src3")
      spark.sql(s"""
        MERGE INTO graft.`$path` t USING dml_src3 s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET amt = 0.0
        WHEN NOT MATCHED BY SOURCE AND t.k >= 8 THEN DELETE""")
      val got = rows(path)
      assert(got.size == 8)
      assert(got.filter(_._1 < 5).forall(_._3 == 0.0))
      assert(got.filter(r => r._1 >= 5).forall(r => r._3 == r._1 * 10.0))
    }
  }

  test("MERGE INTO: ambiguous source match fails loudly") {
    withCatalog {
      val path = s"$fresh/t"
      mk(path, n = 10)
      spark.sql("""
        SELECT * FROM VALUES (1L, 1.0), (1L, 2.0) AS s(k, delta)""")
        .createOrReplaceTempView("dml_dup")
      val e = intercept[Exception] {
        spark.sql(s"""
          MERGE INTO graft.`$path` t USING dml_dup s ON t.k = s.k
          WHEN MATCHED THEN UPDATE SET amt = s.delta""")
      }
      assert(e.getMessage.contains("multiple source rows"))
    }
  }

  test("DML composes with column mapping: UPDATE and MERGE after a " +
    "RENAME run on logical names") {
    withCatalog {
      val path = s"$fresh/t"
      mk(path, n = 20)
      VersionedTable.renameColumn(spark, path, "amt", "amount")
      spark.sql(s"UPDATE graft.`$path` SET amount = -5.0 WHERE k = 3")
      assert(VersionedTable.read(spark, path)
        .filter(col("k") === 3).head.getAs[Double]("amount") == -5.0)
      spark.sql(
        "SELECT 4L AS k, 0L AS grp, 7.5 AS amount")
        .createOrReplaceTempView("dml_ren")
      spark.sql(s"""
        MERGE INTO graft.`$path` t USING dml_ren s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *""")
      assert(VersionedTable.read(spark, path)
        .filter(col("k") === 4).head.getAs[Double]("amount") == 7.5)
    }
  }

  test("DML returns Delta-style metrics rows") {
    withCatalog {
      val path = s"$fresh/t"
      mk(path, n = 50)
      val del = spark.sql(s"DELETE FROM graft.`$path` WHERE k >= 45")
      assert(del.columns.toSeq == Seq("num_affected_rows"))
      assert(del.head.getLong(0) == 5)
      val upd = spark.sql(
        s"UPDATE graft.`$path` SET amt = 0.0 WHERE k < 10")
      assert(upd.head.getLong(0) == 10)
      spark.sql("""
        SELECT * FROM VALUES (1L, 9.0), (2L, 9.0), (100L, 9.0),
          (101L, 9.0) AS s(k, amt)""")
        .createOrReplaceTempView("dml_metrics_src")
      val mrg = spark.sql(s"""
        MERGE INTO graft.`$path` t USING dml_metrics_src s ON t.k = s.k
        WHEN MATCHED AND t.k = 1 THEN DELETE
        WHEN MATCHED THEN UPDATE SET amt = s.amt
        WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 0L, s.amt)""")
      assert(mrg.columns.toSeq == Seq("num_affected_rows",
        "num_updated_rows", "num_deleted_rows", "num_inserted_rows"))
      val r = mrg.head
      assert(r.getLong(1) == 1 && r.getLong(2) == 1 && r.getLong(3) == 2
        && r.getLong(0) == 4, s"got $r")
      // insert-only merge metrics
      val io = spark.sql(s"""
        MERGE INTO graft.`$path` t USING dml_metrics_src s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 1L, s.amt)""")
      val r2 = io.head
      assert(r2.getLong(0) == 1 && r2.getLong(3) == 1,
        s"k=1 was deleted above, re-inserts; got $r2")
    }
  }

  test("MERGE metrics ride the write job: an empty source and a " +
    "no-match UPDATE still commit and report zeros") {
    withCatalog {
      val path = s"$fresh/t"
      mk(path, n = 20)
      spark.sql("SELECT * FROM VALUES (1L, 1.0) AS s(k, amt) WHERE k < 0")
        .createOrReplaceTempView("dml_empty_src")
      val full = spark.sql(s"""
        MERGE INTO graft.`$path` t USING dml_empty_src s ON t.k = s.k
        WHEN MATCHED THEN UPDATE SET amt = s.amt
        WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 0L, s.amt)""")
      assert(full.head.toSeq == Seq(0L, 0L, 0L, 0L))
      val io = spark.sql(s"""
        MERGE INTO graft.`$path` t USING dml_empty_src s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT (k, grp, amt) VALUES (s.k, 0L, s.amt)""")
      assert(io.head.toSeq == Seq(0L, 0L, 0L, 0L))
      assert(spark.sql(s"UPDATE graft.`$path` SET amt = 1.0 WHERE k > 99")
        .head.getLong(0) == 0L)
      assert(rows(path).map(_._1) == (0L until 20L))
    }
  }

  test("MERGE INTO: insert-only allows duplicate source keys") {
    withCatalog {
      val path = s"$fresh/t"
      mk(path, n = 10)
      spark.sql("""
        SELECT * FROM VALUES (3L, 1L, 1.0), (50L, 2L, 2.0),
          (50L, 3L, 3.0) AS s(k, grp, amt)""")
        .createOrReplaceTempView("dml_ins")
      spark.sql(s"""
        MERGE INTO graft.`$path` t USING dml_ins s ON t.k = s.k
        WHEN NOT MATCHED THEN INSERT *""")
      val got = rows(path)
      assert(got.size == 12, "k=3 matched (skipped), both k=50 inserted")
      assert(got.count(_._1 == 50) == 2)
      assert(got.find(_._1 == 3).get._3 == 30.0, "matched row untouched")
    }
  }
}
