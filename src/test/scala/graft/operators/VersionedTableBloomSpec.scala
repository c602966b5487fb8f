package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Bloom filter indexes inside the versioned format (Delta's bloom
  * filter index shape: one sidecar per data file per indexed column):
  * point-lookup file skipping where [min, max] stats cannot prune.
  * Contract under test: pruning never drops a row (false positives
  * die in the row filter, false negatives are impossible), the write
  * path auto-indexes new files once the table property is set,
  * backfill is a metadata commit that diffs EMPTY in the CDF, the
  * index survives rename (physical-name keyed), composes with DVs,
  * and vacuum reclaims sidecars of rewritten files. */
class VersionedTableBloomSpec extends SparkSpec {

  private def freshPath =
    Files.createTempDirectory("graft_vtb").toString + "/t"

  /** 4096 rows, high-cardinality key hash-scattered over 8 files —
    * every file's [min, max] spans the whole key domain, so stats
    * alone can NEVER prune; each key lives in exactly one file. */
  private def scattered = spark.range(4096)
    .select(col("id").as("k"), (col("id") % 97).as("v"))
    .repartition(8)

  private def indexed(path: String): Unit = {
    VersionedTable.write(scattered, path)
    VersionedTable.setTableProperties(path,
      Map(VersionedTable.bloomColumnsProp -> "k"))
    VersionedTable.buildBloomIndex(spark, path)
  }

  test("backfill attaches a sidecar per (file, column); lookups prune " +
    "to ~1 of 8 files and equal the full-scan filter exactly") {
    val path = freshPath
    indexed(path)
    val v = VersionedTable.latestVersion(path).get
    val entries = VersionedTable.manifestEntries(path, v)
    assert(entries.size == 8)
    assert(entries.forall(_.bloom.contains("k")))
    // stats CANNOT prune this layout (every file spans the domain)…
    val stats = entries.flatMap(_.stats.get("k"))
    assert(stats.forall { case (mn, mx) => mn < 100 && mx > 3995 })
    // …the bloom can: a single key admits its own file plus at most
    // a false positive or two (fpp=0.03, deterministic layout)
    val pruned = VersionedTable.prunedBloomEntries(spark, path, v,
      "k", Seq(1234L))
    assert(pruned.size <= 3, s"expected <=3 of 8 files, got ${pruned.size}")
    val got = VersionedTable.readEqual(spark, path, "k", 1234L)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1234L, 1234L % 97)))
    // absent key: zero rows (false positives die in the row filter)
    assert(VersionedTable.readEqual(spark, path, "k", 99999L).count() == 0)
  }

  test("IN-list lookup probes once and equals the full-scan isin; " +
    "driver and distributed probe paths agree") {
    val path = freshPath
    indexed(path)
    val keys: Seq[Any] = Seq(7L, 1234L, 4000L, 88888L)
    val got = VersionedTable.readIn(spark, path, "k", keys)
      .orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(7L, 1234L, 4000L))
    val v = VersionedTable.latestVersion(path).get
    val driverPruned = VersionedTable.prunedBloomEntries(spark, path, v,
      "k", keys).map(_.name)
    val prev = VersionedTable.bloomDriverProbeMaxFiles
    try {
      VersionedTable.bloomDriverProbeMaxFiles = 0 // force the Spark job
      assert(VersionedTable.prunedBloomEntries(spark, path, v,
        "k", keys).map(_.name) == driverPruned)
    } finally VersionedTable.bloomDriverProbeMaxFiles = prev
  }

  test("string columns index too (stats can never prune strings — " +
    "the doc-hash lookup case)") {
    val path = freshPath
    VersionedTable.write(spark.range(2048)
      .select(col("id").as("k"),
        sha2(conv(col("id").cast("string"), 10, 16), 256).as("h"))
      .repartition(8), path)
    VersionedTable.setTableProperties(path,
      Map(VersionedTable.bloomColumnsProp -> "h"))
    VersionedTable.buildBloomIndex(spark, path)
    val probe = spark.range(1)
      .select(sha2(conv(lit("777"), 10, 16), 256)).head.getString(0)
    val v = VersionedTable.latestVersion(path).get
    assert(VersionedTable.prunedBloomEntries(spark, path, v,
      "h", Seq(probe)).size <= 3)
    val got = VersionedTable.readEqual(spark, path, "h", probe)
      .select("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(777L))
  }

  test("write path auto-indexes new files once the property is set; " +
    "backfill is idempotent") {
    val path = freshPath
    indexed(path)
    val v1 = VersionedTable.latestVersion(path).get
    // idempotent: nothing missing → no new commit
    assert(VersionedTable.buildBloomIndex(spark, path) == v1)
    VersionedTable.append(spark,
      spark.range(4096, 4200).select(col("id").as("k"),
        (col("id") % 97).as("v")), path)
    val v2 = VersionedTable.latestVersion(path).get
    assert(v2 == v1 + 1)
    val fresh = VersionedTable.manifestEntries(path, v2)
      .filterNot(VersionedTable.manifestEntries(path, v1).toSet)
    assert(fresh.nonEmpty && fresh.forall(_.bloom.contains("k")))
    assert(VersionedTable.readEqual(spark, path, "k", 4100L).count() == 1)
  }

  test("in-write sidecars equal a backfill of the same files: they " +
    "admit the same values and point/keyed reads answer alike") {
    // the property is set before any data lands, so the write job
    // itself builds the sidecars
    val inWrite = freshPath
    VersionedTable.create(inWrite, scattered.schema,
      Map(VersionedTable.bloomColumnsProp -> "k"))
    VersionedTable.append(spark, scattered, inWrite)
    val v = VersionedTable.latestVersion(inWrite).get
    val entries = VersionedTable.manifestEntries(inWrite, v)
    assert(entries.size == 8 && entries.forall(_.bloom.contains("k")))
    // backfill THE SAME files: every file holds 512 rows, so both
    // paths size the filter alike and must write identical bits
    val backfilled = VersionedTable.buildBloomSidecars(spark, inWrite,
      v + 1, entries, Seq("k"), 0.03, VersionedTable.schemaOf(inWrite, v))
    def bits(e: VersionedTable.FileEntry) = Files.readAllBytes(
      java.nio.file.Paths.get(inWrite, "_graft_pool", e.bloom("k")))
    entries.zip(backfilled).foreach { case (w, b) =>
      assert(w.bloom("k") != b.bloom("k"))
      assert(bits(w).sameElements(bits(b)), s"${w.name}: sidecars differ")
    }
    // every stored key is admitted by its own file's in-write sidecar
    entries.foreach { e =>
      val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(bits(e))
      val ks = spark.read.parquet(
        VersionedTable.poolFilePath(inWrite, e.name))
        .select(xxhash64(col("k"))).collect().map(_.getLong(0))
      assert(ks.nonEmpty && ks.forall(bf.mightContainLong), e.name)
    }
    // lookups on the in-write table answer exactly as on a table
    // written first and backfilled afterwards
    val backfill = freshPath
    indexed(backfill)
    Seq(7L, 1234L, 4095L, 99999L).foreach { k =>
      assert(VersionedTable.readEqual(spark, inWrite, "k", k).collect()
        .toSet == VersionedTable.readEqual(spark, backfill, "k", k)
        .collect().toSet, s"readEqual($k)")
    }
    val keys = spark.range(6).select((col("id") * 811 + 5).as("k"))
    assert(VersionedTable.readKeys(spark, inWrite, "k", keys).collect()
      .toSet == VersionedTable.readKeys(spark, backfill, "k", keys)
      .collect().toSet)
    assert(VersionedTable.readKeys(spark, inWrite, "k", keys).count() == 6)
  }

  test("readKeys: a key FRAME semi-joins through the index; an " +
    "unindexed column degrades to the plain semi-join, same result") {
    val path = freshPath
    indexed(path)
    val keys = spark.range(5).select((col("id") * 700 + 3).as("k"))
    val got = VersionedTable.readKeys(spark, path, "k", keys)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 703L, 1403L, 2103L, 2803L))
    val byV = VersionedTable.readKeys(spark, path, "v",
      spark.range(1).select(lit(7L).as("v")))
    assert(byV.count() ==
      spark.range(4096).filter(expr("id % 97 = 7")).count())
  }

  test("a BLOOM INDEX backfill commit diffs EMPTY in the change feed") {
    val path = freshPath
    VersionedTable.write(scattered, path)
    VersionedTable.setTableProperties(path,
      Map(VersionedTable.bloomColumnsProp -> "k"))
    val before = VersionedTable.latestVersion(path).get
    val after = VersionedTable.buildBloomIndex(spark, path)
    assert(after == before + 1)
    assert(VersionedTable.changes(spark, path, before, after).count() == 0)
  }

  test("rename keeps the index live (sidecars are physical-name keyed)") {
    val path = freshPath
    indexed(path)
    VersionedTable.renameColumn(spark, path, "k", "doc_key")
    val v = VersionedTable.latestVersion(path).get
    val pruned = VersionedTable.prunedBloomEntries(spark, path, v,
      "doc_key", Seq(1234L))
    assert(pruned.size <= 3)
    assert(VersionedTable.readEqual(spark, path, "doc_key", 1234L)
      .count() == 1)
  }

  test("composes with deletion vectors: a MoR-deleted row never " +
    "surfaces through the indexed read") {
    val path = freshPath
    indexed(path)
    VersionedTable.deleteVectors(spark, path, "k = 1234")
    assert(VersionedTable.readEqual(spark, path, "k", 1234L).count() == 0)
    assert(VersionedTable.readEqual(spark, path, "k", 7L).count() == 1)
  }

  test("vacuum reclaims sidecars of rewritten files; the live index " +
    "keeps answering") {
    val path = freshPath
    indexed(path)
    val vIdx = VersionedTable.latestVersion(path).get
    val oldSidecars = VersionedTable.manifestEntries(path, vIdx)
      .flatMap(_.bloom.values).toSet
    // rewrite every file (full-table UPDATE) → fresh files, fresh blooms
    VersionedTable.update(spark, path, "k >= 0", Seq("v" -> "v + 0"))
    VersionedTable.vacuum(path, keepLast = 1)
    val pool = VersionedTable.poolFiles(path).toSet
    assert(oldSidecars.forall(s => !pool.contains(s)),
      "rewritten files' bloom sidecars must be reclaimed")
    val vNew = VersionedTable.latestVersion(path).get
    assert(VersionedTable.manifestEntries(path, vNew)
      .forall(_.bloom.contains("k")))
    assert(VersionedTable.readEqual(spark, path, "k", 1234L).count() == 1)
  }

  test("MERGE pre-prunes its touch scan from the index: a 3-key batch " +
    "admits ~3 of 8 files, the merge result is exact, and the rest " +
    "of the manifest re-links") {
    val path = freshPath
    indexed(path)
    val v = VersionedTable.latestVersion(path).get
    val updates = spark.range(3).select((col("id") * 1000 + 17).as("k"),
      lit(-1L).as("v"))
    val cands = VersionedTable.bloomTouchCandidates(spark, path, v,
      VersionedTable.propsOf(path, v), VersionedTable.schemaOf(path, v),
      updates.select("k").distinct(), Seq("k"))
    assert(cands.isDefined && cands.get.size <= 5,
      s"expected <=5 of 8 admitted, got ${cands.map(_.size)}")
    VersionedTable.upsert(spark, path, updates, Seq("k"))
    val out = VersionedTable.read(spark, path)
    assert(out.count() == 4096)
    assert(out.filter(col("v") === -1L).count() == 3)
    assert(out.filter(col("k") === 17L).head.getLong(1) == -1L)
    // untouched files re-linked byte-identically
    val shared = VersionedTable.manifest(path, v).map(_._1).toSet
      .intersect(VersionedTable.manifest(path, v + 1).map(_._1).toSet)
    assert(shared.size >= 8 - cands.get.size)
    // over the key cap: the pre-prune declines, the merge stays exact
    val oldCap = VersionedTable.bloomMergeProbeCapKeys
    VersionedTable.bloomMergeProbeCapKeys = 2
    try {
      assert(VersionedTable.bloomTouchCandidates(spark, path, v + 1,
        VersionedTable.propsOf(path, v + 1),
        VersionedTable.schemaOf(path, v + 1),
        updates.select("k").distinct(), Seq("k")).isEmpty)
      VersionedTable.upsert(spark, path,
        spark.range(3).select((col("id") * 1000 + 18).as("k"),
          lit(-2L).as("v")), Seq("k"))
      assert(VersionedTable.read(spark, path)
        .filter(col("v") === -2L).count() == 3)
    } finally VersionedTable.bloomMergeProbeCapKeys = oldCap
  }

  test("a column evolved as metadata-null backfills to a null-only " +
    "bloom: old files prune away for any real key") {
    val path = freshPath
    VersionedTable.write(scattered, path)
    // new column arrives only with the evolved batch
    VersionedTable.appendEvolve(spark,
      spark.range(4096, 4160).select(col("id").as("k"),
        (col("id") % 97).as("v"), (col("id") * 10).as("extra")), path)
    VersionedTable.setTableProperties(path,
      Map(VersionedTable.bloomColumnsProp -> "extra"))
    VersionedTable.buildBloomIndex(spark, path)
    val v = VersionedTable.latestVersion(path).get
    val pruned = VersionedTable.prunedBloomEntries(spark, path, v,
      "extra", Seq(41000L))
    // 8 original files hold only nulls for `extra` → all pruned
    assert(pruned.size <= 2, s"got ${pruned.size}")
    val got = VersionedTable.readEqual(spark, path, "extra", 41000L)
      .select("k").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(4100L))
  }
}
