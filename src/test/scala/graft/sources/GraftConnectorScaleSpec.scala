package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.operators.VersionedTable

/** Round-13 connector scale surfaces: reported scan statistics (SQL
  * joins size graft tables honestly → auto-broadcast), task sizing
  * (split large files, bin-pack small ones), streaming rate limiting,
  * catalog CTAS with PARTITIONED BY + TBLPROPERTIES, and the
  * mid-stream DV-delete change detection. */
class GraftConnectorScaleSpec extends SparkSpec {

  private def fresh = Files.createTempDirectory("graft_scale").toString

  private def withCatalog[T](body: => T): T = {
    spark.conf.set("spark.sql.catalog.graft",
      classOf[GraftCatalog].getName)
    body
  }

  // ------------------------------------------------------------ //
  // SupportsReportStatistics
  // ------------------------------------------------------------ //

  test("scan statistics come from the manifest and reflect pushed-" +
    "filter pruning") {
    val path = s"$fresh/t"
    val df = spark.range(1000).select(col("id").as("k"),
      (col("id") % 10).as("v"))
    VersionedTable.write(
      graft.operators.Maintenance.clusteredFrame(df, Seq("k"), 4), path)
    val entries = VersionedTable.manifestEntries(path, 0)
    assert(entries.size == 4)
    val full = new GraftScanBuilder(path, 0,
      VersionedTable.schemaOf(path, 0)).build()
      .asInstanceOf[GraftScan].estimateStatistics()
    assert(full.sizeInBytes.getAsLong == entries.map(_.bytes).sum)
    assert(full.numRows.getAsLong == 1000)
    // a pushed range filter shrinks the estimate to the pruned files
    val b = new GraftScanBuilder(path, 0, VersionedTable.schemaOf(path, 0))
    b.pushFilters(Array(
      org.apache.spark.sql.sources.LessThan("k", 100L)))
    val pruned = b.build().asInstanceOf[GraftScan].estimateStatistics()
    assert(pruned.sizeInBytes.getAsLong < full.sizeInBytes.getAsLong)
    assert(pruned.numRows.getAsLong < 1000)
  }

  test("a small graft table joined through SQL auto-broadcasts") {
    withCatalog {
      val path = s"$fresh/dim"
      VersionedTable.write(spark.range(50).select(col("id").as("k"),
        concat(lit("n"), col("id")).as("name")), path)
      spark.range(100000).select((col("id") % 50).as("k"),
        col("id").as("x")).createOrReplaceTempView("scale_fact")
      val plan = spark.sql(
        s"""SELECT f.k, d.name, f.x FROM scale_fact f
            JOIN graft.`$path` d ON f.k = d.k""")
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected BroadcastHashJoin, got:\n$plan")
    }
  }

  // ------------------------------------------------------------ //
  // task sizing: split + bin-pack
  // ------------------------------------------------------------ //

  test("planInputPartitions splits a huge file and bin-packs tiny " +
    "ones (1-huge + 50-tiny layout)") {
    val path = s"$fresh/t"
    // one ~large file (single writer partition) …
    VersionedTable.write(spark.range(200000)
      .select(col("id").as("k"),
        concat(lit("padpadpadpadpadpad-"), col("id")).as("pad"))
      .coalesce(1), path)
    // … plus 50 tiny files via one 50-partition append
    VersionedTable.append(spark, spark.range(200000, 200500)
      .select(col("id").as("k"),
        concat(lit("t"), col("id")).as("pad"))
      .repartition(50), path)
    val entries = VersionedTable.manifestEntries(path, 1)
    assert(entries.size == 51)
    val huge = entries.maxBy(_.bytes)
    val prev = (
      org.apache.spark.sql.graft.GraftBridge
        .filesMaxPartitionBytes(spark).toString,
      org.apache.spark.sql.graft.GraftBridge
        .filesOpenCostInBytes(spark).toString)
    try {
      // force splitting: cap well under the big file's size
      spark.conf.set("spark.sql.files.maxPartitionBytes",
        (huge.bytes / 4).toString)
      spark.conf.set("spark.sql.files.openCostInBytes", "1024")
      val parts = GraftReaderFactory.partitions(path, entries,
        splitAndPack = true, spark = spark)
      val slices = parts.flatMap(_.asInstanceOf[GraftInputPartition].slices)
      val hugeSlices = slices.filter(_.fileName == huge.name)
      assert(hugeSlices.length >= 4, s"huge file split: ${hugeSlices.length}")
      assert(hugeSlices.map(_.length).sum == huge.bytes, "slices tile")
      // 50 tiny files share far fewer tasks than 50
      val tinyParts = parts.count(p =>
        p.asInstanceOf[GraftInputPartition].slices
          .exists(_.fileName != huge.name))
      assert(tinyParts < 25, s"tiny files packed into $tinyParts tasks")
      // end-to-end correctness under forced splitting: nothing lost
      // or double-read
      val got = spark.read.format("graft").load(path)
      assert(got.count() == 200500)
      assert(got.select(countDistinct("k")).head.getLong(0) == 200500)
      assert(got.agg(sum("k")).head.getLong(0) == 200500L * 200499L / 2)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev._1)
      spark.conf.set("spark.sql.files.openCostInBytes", prev._2)
    }
  }

  test("DV-carrying files never split but still read correctly " +
    "under a small split cap") {
    val path = s"$fresh/t"
    VersionedTable.write(spark.range(50000)
      .select(col("id").as("k"),
        concat(lit("padpadpadpad-"), col("id")).as("pad"))
      .coalesce(1), path)
    VersionedTable.deleteVectors(spark, path, "k % 10 = 0")
    val entries = VersionedTable.manifestEntries(path, 1)
    val prev = org.apache.spark.sql.graft.GraftBridge
      .filesMaxPartitionBytes(spark).toString
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "8192")
      val parts = GraftReaderFactory.partitions(path, entries,
        splitAndPack = true, spark = spark)
      val dvSlices = parts.flatMap(
        _.asInstanceOf[GraftInputPartition].slices).filter(_.dv.isDefined)
      assert(dvSlices.forall(s => s.start == 0 && s.length == s.fileSize))
      assert(spark.read.format("graft").load(path).count() == 45000)
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
    }
  }

  // ------------------------------------------------------------ //
  // runtime filtering (dynamic partition pruning)
  // ------------------------------------------------------------ //

  test("runtime filtering: a join against a filtered dim prunes the " +
    "fact scan to the build side's partitions") {
    val path = s"$fresh/fact"
    VersionedTable.write(spark.range(8000)
      .select(col("id").as("k"), (col("id") % 8).as("p")),
      path, partitionBy = Seq("p"))
    val total = VersionedTable.manifestEntries(path, 0).size
    assert(total >= 8)
    val dim = spark.range(8).select(col("id").as("p"),
      concat(lit("d"), col("id")).as("name"))
      .filter(col("p") === 3)
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio"
        -> "10")
    val prev = confs.map { case (k, _) => k -> spark.conf.get(k) }
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val fact = spark.read.format("graft").load(path)
      val before = GraftReaderFactory.slicesOpened.get()
      val got = fact.join(dim, "p").agg(count(lit(1)), sum("k")).head
      val opened = GraftReaderFactory.slicesOpened.get() - before
      assert(got.getLong(0) == 1000)
      assert(got.getLong(1) == (0L until 8000L).filter(_ % 8 == 3).sum)
      assert(opened < total,
        s"runtime filter should prune: opened $opened of $total files")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  // ------------------------------------------------------------ //
  // streaming rate limiting
  // ------------------------------------------------------------ //

  private def drainCountBatches(src: String, dir: String,
                                opts: Map[String, String]): Seq[Long] = {
    val reader = spark.readStream.format("graft")
    opts.foreach { case (k, v) => reader.option(k, v) }
    val sizes = scala.collection.mutable.ArrayBuffer[Long]()
    val q = reader.load(src).writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = df.count()
        sizes.synchronized { sizes += n }; ()
      }
      .option("checkpointLocation", s"$dir/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    graft.streaming.Streams.awaitDone(q, 60000)
    sizes.toSeq
  }

  test("maxVersionsPerTrigger drains a 3-version backlog in bounded " +
    "batches") {
    val dir = fresh
    val src = s"$dir/t"
    VersionedTable.write(spark.range(10).select(col("id").as("k")), src)
    VersionedTable.append(spark,
      spark.range(10, 30).select(col("id").as("k")), src)
    VersionedTable.append(spark,
      spark.range(30, 60).select(col("id").as("k")), src)
    val sizes = drainCountBatches(src, dir,
      Map("maxVersionsPerTrigger" -> "1"))
    assert(sizes.filter(_ > 0) == Seq(10L, 20L, 30L),
      s"one version per batch, got $sizes")
  }

  test("maxFilesPerTrigger groups versions under the file budget") {
    val dir = fresh
    val src = s"$dir/t"
    // v0: 2 files; v1: 2 files; v2: 2 files — budget 4 → v0+v1, then v2
    VersionedTable.write(spark.range(10).select(col("id").as("k"))
      .repartition(2), src)
    VersionedTable.append(spark, spark.range(10, 30)
      .select(col("id").as("k")).repartition(2), src)
    VersionedTable.append(spark, spark.range(30, 60)
      .select(col("id").as("k")).repartition(2), src)
    val sizes = drainCountBatches(src, dir,
      Map("maxFilesPerTrigger" -> "4"))
    assert(sizes.filter(_ > 0) == Seq(30L, 30L),
      s"expected (v0+v1, v2) batches, got $sizes")
  }

  // ------------------------------------------------------------ //
  // catalog CTAS: PARTITIONED BY + TBLPROPERTIES
  // ------------------------------------------------------------ //

  test("CTAS with PARTITIONED BY and TBLPROPERTIES through the " +
    "catalog: layout prunes, properties land") {
    withCatalog {
      val path = s"$fresh/ctas"
      spark.range(1000).select(col("id").as("k"), (col("id") % 4).as("p"))
        .createOrReplaceTempView("ctas_src")
      spark.sql(s"""
        CREATE TABLE graft.`$path`
        PARTITIONED BY (p)
        TBLPROPERTIES ('quality' = 'silver', 'owner.team' = 'etl')
        AS SELECT * FROM ctas_src""")
      // properties landed
      val v = VersionedTable.latestVersion(path).get
      val props = VersionedTable.tableProperties(path, v)
      assert(props.get("quality").contains("silver"))
      assert(props.get("owner.team").contains("etl"))
      // partition values recorded → a partition-equality read
      // shortlists entries by pure metadata
      val entries = VersionedTable.manifestEntries(path, v)
      assert(entries.forall(_.part.contains("p")))
      val hit = VersionedTable.pruneEntriesForFilters(spark, path, v,
        Seq(org.apache.spark.sql.sources.EqualTo("p", 2L)))
      assert(hit.nonEmpty && hit.size < entries.size,
        s"partition pruning shortlists: ${hit.size}/${entries.size}")
      // and the data is right
      assert(spark.sql(s"SELECT count(*) FROM graft.`$path` WHERE p = 2")
        .head.getLong(0) == 250)
    }
  }

  test("CTAS refuses non-identity partition transforms loudly") {
    withCatalog {
      val path = s"$fresh/ctas2"
      spark.range(10).select(col("id").as("k"), col("id").as("ts"))
        .createOrReplaceTempView("ctas_src2")
      val e = intercept[Exception] {
        spark.sql(s"""
          CREATE TABLE graft.`$path` PARTITIONED BY (bucket(4, k))
          AS SELECT * FROM ctas_src2""")
      }
      assert(e.getMessage.contains("identity"))
    }
  }

  // ------------------------------------------------------------ //
  // advisor r12 fixes
  // ------------------------------------------------------------ //

  test("a mid-stream MoR (deletion-vector) delete is a change commit: " +
    "fails loudly, skipChangeCommits skips it") {
    val dir = fresh
    val (src, out, ckpt) = (s"$dir/t", s"$dir/out", s"$dir/ckpt")
    VersionedTable.write(spark.range(100).select(col("id").as("k")), src)
    def drain(opts: Map[String, String] = Map.empty): Unit = {
      val reader = spark.readStream.format("graft")
      opts.foreach { case (k, v) => reader.option(k, v) }
      val q = reader.load(src).writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      graft.streaming.Streams.awaitDone(q, 60000)
    }
    drain()
    assert(spark.read.parquet(out).count() == 100)
    // DV delete: file names all survive, only a sidecar attaches —
    // the pre-r13 name-only check silently missed this
    VersionedTable.deleteVectors(spark, src, "k < 10")
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drain()
    }
    assert(e.getMessage.contains("not an append") ||
      Option(e.getCause).exists(_.getMessage.contains("not an append")))
    // skipChangeCommits skips the DV commit; a later append flows
    VersionedTable.append(spark,
      spark.range(100, 110).select(col("id").as("k")), src)
    drain(Map("skipChangeCommits" -> "true"))
    assert(spark.read.parquet(out).count() == 110)
  }

  test("versionAsOf resolves case-insensitively (data AND schema)") {
    val path = s"$fresh/t"
    VersionedTable.write(spark.range(10).select(col("id").as("k")), path)
    VersionedTable.delete(spark, path, "k >= 5")
    // lowercase spelling must pin v0 data, not just v0 schema
    assert(spark.read.format("graft").option("versionasof", "0")
      .load(path).count() == 10)
  }
}
