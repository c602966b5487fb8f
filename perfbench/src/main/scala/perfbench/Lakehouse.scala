package perfbench

import java.io.File
import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.VersionedTable

/** The incremental silver loop on a graft table: each round lands a
  * seeded change batch as JSON files, then runs a streaming MERGE
  * (AvailableNow), SQL MERGE INTO / UPDATE / DELETE, and between the
  * writes the table's read paths (filtered DSv2 scan, bloom keyed and
  * point reads, VERSION AS OF, graft_changes). Every write and every
  * read is logged so the checker can replay the rounds in DuckDB. */
final class Lakehouse(nRows: Long, nCust: Long) extends Workload {
  private val streamUpd = 1000; private val streamIns = 500
  private val cdcUpd = 400; private val cdcDel = 400; private val cdcIns = 200
  private val insPerRound = streamIns + cdcIns
  private val timeoutMs = 120000L
  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority", "seq")
  private val schema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_orderdate", StringType),
    StructField("o_orderpriority", StringType), StructField("seq", LongType)))
  private val cdcSchema = schema.add(StructField("op", StringType))
  /** The read digest; `READ_DIGEST` in outputs.py is its DuckDB twin. */
  private val digestCols = Seq("count(*) AS n", "coalesce(sum(o_orderkey), 0) AS sk",
    "coalesce(sum(o_custkey), 0) AS sc",
    "coalesce(sum(cast(round(o_totalprice * 100) AS bigint)), 0) AS sp",
    "coalesce(sum(seq), 0) AS sq",
    "coalesce(sum(ascii(o_orderstatus) + length(o_orderpriority) + length(o_orderdate)), 0) AS sl")
  private val digestSql = digestCols.mkString(", ")

  private var dir = ""
  private def table = s"$dir/table"
  private var baseVersion = 0
  /** versions after each completed write, oldest first */
  private val boundaries = mutable.ArrayBuffer[Int]()
  private val log = mutable.ArrayBuffer[Map[String, Any]]()
  private var landedBytes = 0L
  private var tableBytesAtStart = -1L
  private var pending: Map[String, Any] = Map.empty
  private var dirBefore: Map[String, Long] = Map.empty
  private var slicesBefore = 0L

  def setup(h: Harness, d: String): Unit = {
    dir = d
    val g = new Gen(h.spark, h.seed)
    g.orderRows(h.spark.range(nRows).select(col("id").as("o_orderkey")), "base",
      col("o_orderkey"), nCust).write.mode("overwrite").parquet(s"$dir/base.parquet")
    VersionedTable.write(h.spark.read.parquet(s"$dir/base.parquet")
      .repartitionByRange(16, col("o_orderkey")), table, operation = "CREATE")
    VersionedTable.setTableProperties(table, Map(VersionedTable.bloomColumnsProp -> "o_orderkey"))
    VersionedTable.buildBloomIndex(h.spark, table)
    baseVersion = VersionedTable.latestVersion(table).get
    boundaries.clear(); boundaries += baseVersion
    log.clear(); landedBytes = 0L; tableBytesAtStart = -1L
  }

  private def walk(root: String): Map[String, Long] = {
    def go(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(go)
      else Seq(f.getPath -> f.length())
    go(new File(root)).toMap
  }

  /** Land round `r`'s change batch: stream upserts as two JSON files
    * in the stream's source directory, MERGE changes as one JSON dir. */
  private def land(h: Harness, r: Int): (Seq[String], String) = {
    val g = new Gen(h.spark, h.seed)
    val insBase = nRows + r.toLong * insPerRound
    val seqBase = (r + 1) * 1000000000L
    val up = g.orderRows(g.changeKeys(s"s$r", nRows, streamUpd, 0, streamIns, insBase),
      s"s$r", lit(seqBase) + col("o_orderkey"), nCust)
    val stage = s"$dir/stage/s$r"
    up.coalesce(1).write.mode("overwrite")
      .option("maxRecordsPerFile", (streamUpd + streamIns) / 2 + 1).json(stage)
    val src = new File(s"$dir/stream_src"); src.mkdirs()
    val files = new File(stage).listFiles().filter(_.getName.endsWith(".json")).sortBy(_.getName)
      .zipWithIndex.map { case (f, i) =>
        val dst = new File(src, f"r$r%04d-$i.json")
        require(f.renameTo(dst), s"could not land $f")
        landedBytes += dst.length(); dst.getPath
      }
    val cdc = g.changeKeys(s"c$r", nRows, cdcUpd, cdcDel, cdcIns, insBase + streamIns)
    val cdcDir = s"$dir/cdc/r$r"
    g.orderRows(cdc, s"c$r", lit(seqBase + 200000000L) + col("o_orderkey"), nCust)
      .join(cdc, "o_orderkey").coalesce(1).write.mode("overwrite").json(cdcDir)
    landedBytes += walk(cdcDir).filter(_._1.endsWith(".json")).values.sum
    (files.toSeq, cdcDir)
  }

  private def current = boundaries.last

  def pass(h: Harness, r: Int): Seq[Op] = {
    val s = h.spark
    import s.implicits._
    val (streamFiles, cdcDir) = land(h, r)
    if (tableBytesAtStart < 0) tableBytesAtStart = walk(table).values.sum
    val rng = new scala.util.Random(h.seed * 7919 + r)
    def recentKey = nRows - 1 - rng.nextInt((nRows / 10).toInt)
    def anyKey = (rng.nextDouble() * nRows).toLong
    val seqBase = (r + 1) * 1000000000L
    val fLo = anyKey; val fHi = fLo + 2000
    val keys = Seq.fill(64)(if (rng.nextBoolean()) recentKey else anyKey).distinct
    val point = if (rng.nextBoolean()) recentKey else anyKey
    val uLo = nRows - 1 - rng.nextInt((nRows / 10).toInt - 500) - 500; val uHi = uLo + 500
    val uSeq = seqBase + 400000000L
    val custs = Seq.fill(3)(rng.nextInt(nCust.toInt).toLong)
    val asOfPick = rng.nextDouble(); val changesBack = 1 + rng.nextInt(4)
    def readDigest(df: DataFrame): Seq[Any] =
      h.act(df.selectExpr(digestCols: _*))(_.collect().map(_.toSeq).toSeq)
    def sqlDigest(sql: String): Seq[Any] =
      h.act(s.sql(sql))(_.collect().map(_.toSeq).sortBy(_.head.toString).toSeq)
    Seq(
      Op("stream_merge", "write", "VersionedTable.stream_merge", _ => {
        pending = Map("op" -> "stream", "files" -> streamFiles)
        val q = h.tr.span("streaming.start")(graft.streaming.Streams.mergeStream(s,
          s"$dir/stream_src", schema, table, key = "o_orderkey", orderCol = "seq",
          tieBreaker = "seq", checkpoint = s"$dir/checkpoint", payloadCols = cols,
          maxFilesPerTrigger = 2))
        val done = q.awaitTermination(timeoutMs)
        if (!done) {
          q.stop()
          throw new RuntimeException(s"stream still running after $timeoutMs ms")
        }
        q.exception.foreach(e => throw e)
        Seq.empty
      }),
      Op("filtered_read", "read", "sources.read", _ => {
        pending = Map("op" -> "filter", "lo" -> fLo, "hi" -> fHi, "version" -> current)
        readDigest(s.read.format("graft").load(table)
          .filter(col("o_orderkey").between(fLo, fHi)))
      }),
      Op("sql_merge", "write", "VersionedTable.merge", _ => {
        pending = Map("op" -> "merge", "dir" -> cdcDir)
        s.read.schema(cdcSchema).json(cdcDir).createOrReplaceTempView("cdc_src")
        val set = cols.tail.map(c => s"$c = s.$c").mkString(", ")
        s.sql(s"""MERGE INTO graft.`$table` t USING cdc_src s ON t.o_orderkey = s.o_orderkey
          WHEN MATCHED AND s.op = 'D' THEN DELETE
          WHEN MATCHED THEN UPDATE SET $set
          WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (${cols.mkString(", ")})
            VALUES (${cols.map("s." + _).mkString(", ")})""")
        Seq.empty
      }),
      Op("keyed_read", "read", "VersionedTable.read", _ => {
        pending = Map("op" -> "keys", "keys" -> keys, "version" -> current)
        readDigest(h.tr.span("operators.build")(
          VersionedTable.readKeys(s, table, "o_orderkey", keys.toDF("o_orderkey"))))
      }),
      Op("sql_update", "write", "VersionedTable.update", _ => {
        pending = Map("op" -> "update", "lo" -> uLo, "hi" -> uHi, "seq" -> uSeq)
        s.sql(s"""UPDATE graft.`$table` SET
          o_orderstatus = CASE WHEN o_totalprice > 250000.0 THEN 'F' ELSE 'P' END, seq = $uSeq
          WHERE o_orderkey BETWEEN $uLo AND $uHi""")
        Seq.empty
      }),
      Op("point_read", "read", "VersionedTable.read", _ => {
        pending = Map("op" -> "point", "key" -> point, "version" -> current)
        readDigest(h.tr.span("operators.build")(
          VersionedTable.readEqual(s, table, "o_orderkey", point)))
      }),
      Op("sql_delete", "write", "VersionedTable.delete", _ => {
        pending = Map("op" -> "delete", "custs" -> custs)
        s.sql(s"DELETE FROM graft.`$table` WHERE o_custkey IN (${custs.mkString(", ")})")
        Seq.empty
      }),
      Op("version_as_of", "read", "sources.read", _ => {
        val v = boundaries((asOfPick * boundaries.size).toInt)
        pending = Map("op" -> "asof", "version" -> v)
        sqlDigest(s"SELECT $digestSql FROM graft.`$table` VERSION AS OF $v")
      }),
      Op("changes_feed", "read", "sources.read", _ => {
        val v1 = boundaries(math.max(0, boundaries.size - 1 - changesBack))
        pending = Map("op" -> "changes", "from" -> v1, "to" -> current)
        sqlDigest(s"SELECT _change_type, $digestSql FROM " +
          s"graft_changes('$table', $v1, $current) GROUP BY _change_type")
      })
    )
  }

  override def beforeOp(h: Harness, op: Op): Unit = if (h.tr.enabled) {
    if (op.kind == "write") dirBefore = walk(table)
    slicesBefore = graft.sources.SlicesProbe.opened
  }

  override def afterOp(h: Harness, op: Op, ok: Boolean, result: Seq[Any]): Unit = {
    val entry = mutable.LinkedHashMap[String, Any]() ++= pending
    entry ++= Seq("name" -> op.name, "ok" -> ok, "digest" -> result)
    if (op.kind == "write") {
      val v = VersionedTable.latestVersion(table).get
      entry("version_after") = v
      if (ok) boundaries += v
      if (h.tr.enabled) {
        val live = h.tr.span("VersionedTable.snapshot") {
          VersionedTable.manifestEntries(table, VersionedTable.latestVersion(table).get).size
        }
        h.sample("VersionedTable.live_files", live)
        val added = walk(table).filter { case (p, _) => !dirBefore.contains(p) }
        h.count("VersionedTable.files_written", added.size)
        h.count("VersionedTable.bytes_written", added.values.sum)
        h.count("rows_rewritten", added.keys.filter(_.endsWith(".parquet")).map(rowsIn).sum)
        h.count("rows_changed", changedRows(h))
      }
    } else if (h.tr.enabled) {
      h.count("sources.slices_opened", graft.sources.SlicesProbe.opened - slicesBefore)
      pending.get("op").foreach {
        case "filter" => prune(h, Seq(
          org.apache.spark.sql.sources.GreaterThanOrEqual("o_orderkey", pending("lo")),
          org.apache.spark.sql.sources.LessThanOrEqual("o_orderkey", pending("hi"))))
        case "point" => prune(h, Seq(
          org.apache.spark.sql.sources.EqualTo("o_orderkey", pending("key"))))
        case _ =>
      }
    }
    log += entry.toMap
  }

  private def rowsIn(path: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  /** Rows a write changed, from the change batch or the predicate. */
  private def changedRows(h: Harness): Long = pending("op") match {
    case "stream" => streamUpd + streamIns
    case "merge" => cdcUpd + cdcDel + cdcIns
    case "update" => h.spark.read.format("graft").load(table)
        .filter(col("seq") === pending("seq")).count()
    case "delete" => h.spark.read.format("graft")
        .option("versionAsOf", boundaries(boundaries.size - 2).toLong).load(table)
        .filter(col("o_custkey").isin(pending("custs").asInstanceOf[Seq[Long]]: _*)).count()
  }

  private def prune(h: Harness, filters: Seq[org.apache.spark.sql.sources.Filter]): Unit = {
    val v = current
    val admitted = VersionedTable.pruneEntriesForFilters(h.spark, table, v, filters).size
    h.count("prune.admitted", admitted)
    h.count("prune.total", VersionedTable.manifestEntries(table, v).size)
  }

  override def finish(h: Harness, outDir: String): Unit = {
    val s = h.spark
    val snapshot = s.read.format("graft").load(table)
    finalSnapshot = s"$outDir/final_snapshot"
    snapshot.write.mode("overwrite").parquet(finalSnapshot)
    val asOf = boundaries.distinct.map { v =>
      v -> s.sql(s"SELECT $digestSql FROM graft.`$table` VERSION AS OF $v")
        .collect().head.toSeq
    }
    // space amplification: the latest snapshot's files against the
    // same rows written once as plain parquet
    val snapBytes = VersionedTable.manifestSizes(table, current).map(_._2).sum
    snapshot.coalesce(1).write.mode("overwrite").parquet(s"$outDir/plain")
    val plainBytes = walk(s"$outDir/plain").filter(_._1.endsWith(".parquet")).values.sum
    spaceAmp = snapBytes.toDouble / plainBytes
    writeAmp = (walk(table).values.sum - tableBytesAtStart).toDouble / landedBytes
    asOfDigests = asOf.map { case (v, d) => Map("version" -> v, "digest" -> d) }.toSeq
  }
  private var finalSnapshot = ""
  private var spaceAmp = 0.0
  private var writeAmp = 0.0
  private var asOfDigests: Seq[Map[String, Any]] = Nil

  def facts: Map[String, Any] = Map("rows" -> nRows, "customers" -> nCust,
    "base_version" -> baseVersion, "base" -> s"$dir/base.parquet", "log" -> log,
    "as_of" -> asOfDigests, "final_snapshot" -> finalSnapshot, "write_amp" -> writeAmp,
    "space_amp" -> spaceAmp,
    "landed_bytes" -> landedBytes, "stream_rows" -> (streamUpd + streamIns),
    "cdc_rows" -> (cdcUpd + cdcDel + cdcIns))

  override def layerMetrics(h: Harness): Map[String, Double] = {
    val c = h.counts
    Map("sources.prune_ratio" ->
        (if (c("prune.total") > 0) c("prune.admitted") / c("prune.total") else 0.0),
      "VersionedTable.rewrite_ratio" ->
        (if (c("rows_rewritten") > 0) c("rows_changed") / c("rows_rewritten") else 0.0))
  }
}
