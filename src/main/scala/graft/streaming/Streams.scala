package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState,
  GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import graft.operators.Materialize.Pinnable

/** Event row as carried by the streaming operators (`ts` =
  * epoch-micros, matching graft.Tables.events). */
final case class EventRow(event_id: Long, ts: Long, user_id: Long,
                          event_type: String, value: Double, props: String)

final case class SessionOut(user_id: Long, session_start: Long,
                            session_end: Long, n_events: Int)

private final case class SessionState(start: Long, last: Long, n: Int)

/** Structured-Streaming re-expressions of the reference's incremental
  * layer (autoloader ingestion at `2 Medaillon architecture.py`:262-274,
  * INCREMENTAL LIVE TABLEs in notebook 4).
  *
  * Scale: file-source ingestion parallelizes per file; window
  * aggregation shuffles on (window, key) with watermark-bounded state;
  * sessionization state is per-user and evicted on timeout.
  */
object Streams {

  /** Auto-loader analog: incremental file-source ingestion with
    * explicit schema and per-file lineage (`source_file` ≈ the
    * reference's `input_file_name()` bronze column). New files in
    * `path` are picked up incrementally per trigger, exactly-once via
    * the checkpoint. */
  def fileIngest(spark: SparkSession, path: String, schema: StructType,
                 format: String = "json",
                 maxFilesPerTrigger: Int = 32): DataFrame =
    spark.readStream
      .format(format)
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(path)
      .withColumn("source_file", input_file_name())
      .withColumn("inserted_at", current_timestamp())

  /** Wait for an AvailableNow run to drain. A query that failed
    * rethrows its error here; one still running at `timeoutMs` is
    * stopped and reported as a `TimeoutException`, so a half-drained
    * sink never passes for a finished one. */
  def awaitDone(q: StreamingQuery, timeoutMs: Long): Unit =
    if (!q.awaitTermination(timeoutMs)) {
      q.stop()
      throw new java.util.concurrent.TimeoutException(
        s"stream ${q.id} still running after $timeoutMs ms; stopped")
    }

  /** The AvailableNow `foreachBatch` lifecycle every sink below shares:
    * drain what `in` has now through `fn`, one micro-batch at a time,
    * exactly-once over the offsets in `checkpoint`. */
  private[graft] def foreachBatchRun(in: DataFrame, checkpoint: String)
                                    (fn: (DataFrame, Long) => Unit)
      : StreamingQuery =
    in.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch(fn)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The AvailableNow append-mode lifecycle for a built-in sink: `w`
    * names the sink (parquet path, memory table, graft table), the
    * offsets live in `checkpoint`. */
  private[graft] def sinkRun(w: DataStreamWriter[Row],
                             checkpoint: String): StreamingQuery =
    w.option("checkpointLocation", checkpoint)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()

  /** The identity a stream's exactly-once markers carry: its
    * checkpoint path plus the id Structured Streaming writes into the
    * checkpoint's `metadata` file at the first start (empty before).
    * The id survives restarts from the checkpoint; a checkpoint
    * deleted and recreated at the same path gets a new one, so it is
    * a new stream whose batch 0 must land. */
  private def streamIdentity(spark: SparkSession,
                             checkpoint: String): String = {
    val meta = new org.apache.hadoop.fs.Path(checkpoint, "metadata")
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val id =
      if (!fs.exists(meta)) ""
      else {
        val in = fs.open(meta)
        try new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(in).get("id").asText
        finally in.close()
      }
    s"$checkpoint,id=$id"
  }

  /** True when batch `batchId` of the stream with identity `stream`
    * already committed into `tablePath` under the `verb` marker
    * (`verb[batch=N,stream=S]`). The marker names its stream, so a
    * second stream into the same table never mistakes another
    * stream's batch N for its own. The log is read newest first and
    * the scan stops at this stream's latest batch at or below
    * `batchId`: a stream commits its batches in order, so an older
    * one means batch N has not landed. */
  private def batchCommitted(tablePath: String, verb: String,
                             stream: String, batchId: Long): Boolean = {
    import graft.operators.VersionedTable
    val marker = (java.util.regex.Pattern.quote(verb) +
      """\[batch=(\d+),stream=(.*)\]""").r
    VersionedTable.operationsNewestFirst(tablePath).collectFirst {
      case marker(b, s) if s == stream && b.toLong <= batchId =>
        b.toLong == batchId
    }.getOrElse(false)
  }

  /** One micro-batch of the streaming MERGE sink: recency-aware upsert
    * of the batch into the versioned table, exactly-once via a
    * (stream, batch-id) marker in the commit log — a retried batch of
    * the same stream is a no-op, so Structured Streaming's
    * at-least-once `foreachBatch` delivery becomes an exactly-once
    * table. `checkpoint` names the stream (see [[streamIdentity]]).
    * First batch bootstraps the table. Public so specs can drive
    * retry semantics directly. */
  def mergeBatch(spark: SparkSession, tablePath: String, key: String,
                 orderCol: String, tieBreaker: String, checkpoint: String)
                (batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.{Medallion, VersionedTable}
    val stream = streamIdentity(spark, checkpoint)
    val marker = s"STREAM_MERGE[batch=$batchId,stream=$stream]"
    if (!batchCommitted(tablePath, "STREAM_MERGE", stream, batchId)) {
      val deduped = Medallion.dedupLatest(batch, key, orderCol, tieBreaker)
      if (VersionedTable.versions(tablePath).isEmpty)
        VersionedTable.write(deduped, tablePath, operation = marker)
      else
        VersionedTable.upsertLatest(spark, tablePath, deduped, key,
          orderCol, tieBreaker, operation = marker)
      ()
    }
  }

  /** The reference's autoloader→`MERGE INTO` silver pattern
    * (`2 Medaillon architecture.py`:262-356 + 530-541) end-to-end:
    * incremental file ingestion where every micro-batch MERGEs into a
    * [[graft.operators.VersionedTable]], newest row per key winning by
    * (`orderCol`, `tieBreaker`). Because the merge is recency-aware,
    * the final table is independent of how files were split across
    * micro-batches. The checkpoint identifies the stream in the
    * table's exactly-once markers. */
  def mergeStream(spark: SparkSession, srcPath: String, schema: StructType,
                  tablePath: String, key: String, orderCol: String,
                  tieBreaker: String, checkpoint: String,
                  payloadCols: Seq[String],
                  maxFilesPerTrigger: Int = 32): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
        maxFilesPerTrigger = maxFilesPerTrigger)
      .select(payloadCols.map(col): _*), checkpoint)(
      mergeBatch(spark, tablePath, key, orderCol, tieBreaker,
        checkpoint))

  /** One micro-batch of the streaming APPEND sink (r10): the batch's
    * rows commit as NEW pool files while the whole current manifest
    * RE-LINKS — O(batch) per trigger, where full-snapshot versioning
    * priced every append at O(table). Exactly-once via the (stream,
    * batch-id) commit marker, as in [[mergeBatch]]. Public so specs
    * can drive retry semantics directly. */
  def appendBatch(spark: SparkSession, tablePath: String,
                  checkpoint: String)
                 (batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.VersionedTable
    val stream = streamIdentity(spark, checkpoint)
    val marker = s"STREAM_APPEND[batch=$batchId,stream=$stream]"
    if (!batchCommitted(tablePath, "STREAM_APPEND", stream, batchId)) {
      if (VersionedTable.versions(tablePath).isEmpty)
        VersionedTable.write(batch, tablePath, operation = marker)
      else
        VersionedTable.append(spark, batch, tablePath, operation = marker)
      ()
    }
  }

  /** The append-only BRONZE ingest lifecycle: incremental file
    * ingestion where every micro-batch APPENDS into a versioned
    * table — the write pattern a raw-events bronze layer actually
    * uses (no keys, no merge; history = arrival order). Exactly-once
    * markers make at-least-once foreachBatch delivery an
    * exactly-once table, so the final content equals one copy of
    * everything staged on ANY batch split — the batch projection is
    * the oracle. Follow with [[graft.operators.VersionedTable
    * .optimizeIncremental]] to fold the accumulated small files. */
  def appendStream(spark: SparkSession, srcPath: String,
                   schema: StructType, tablePath: String,
                   checkpoint: String, payloadCols: Seq[String],
                   maxFilesPerTrigger: Int = 32)
      : StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(payloadCols.map(col): _*), checkpoint)(
      appendBatch(spark, tablePath, checkpoint))

  /** One trigger of the CDF STREAMING CONSUMER: apply every source
    * version the replica has not seen yet, in order, as keyed
    * O(delta) table verbs. The file stream over the source's commit
    * log is purely the NOTIFICATION channel (a new log file = a new
    * version); the batch payload itself is ignored, so ANY batch
    * split or ordering is safe. Per hop the row-level feed
    * (delete(old)+insert(new)) becomes: a file-granular MERGE of the
    * inserts plus a file-granular key-delete of keys that vanished —
    * both O(change), never O(replica). Exactly-once: each hop's
    * commits carry `CDF_MERGE[v=N]` / `CDF_DELETE[v=N]` operation
    * markers, so at-least-once redelivery re-applies nothing.
    * CONTRACT: the source is key-unique on `keyCols` (so an update is
    * exactly delete+insert of one key) and the replica was seeded
    * from source v0; vacuuming source history a follower has not yet
    * consumed breaks it — Delta CDF's own retention hazard. */
  def cdfApplyBatch(spark: SparkSession, srcPath: String,
                    replicaPath: String, keyCols: Seq[String])
                   (batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.VersionedTable
    val markerV = "CDF_(?:MERGE|DELETE)\\[v=(\\d+)\\]".r
    val applied = VersionedTable.operations(replicaPath).flatMap(op =>
      markerV.findFirstMatchIn(op).map(_.group(1).toInt))
    val from = (applied :+ 0).max
    val latest = VersionedTable.latestVersion(srcPath).getOrElse(0)
    ((from + 1) to latest).foreach { v =>
      // LAZY pin, materialized by the census collect — one job where
      // eager pin + per-leg isEmpty probes were three (optimization
      // r14): a hop with no deletes (append) or no inserts (pure
      // delete) skips its dead leg — and its anti-join — entirely
      val feed = VersionedTable.changes(spark, srcPath, v - 1, v)
        .pin(false)
      val census = feed.agg(
        coalesce(sum(when(col("_change_type") === "insert", 1L)
          .otherwise(0L)), lit(0L)),
        coalesce(sum(when(col("_change_type") === "delete", 1L)
          .otherwise(0L)), lit(0L)))
        .collect()(0)
      val (nIns, nDel) = (census.getLong(0), census.getLong(1))
      val inserts = feed.filter(col("_change_type") === "insert")
        .drop("_change_type")
      val ops = VersionedTable.operations(replicaPath)
      val delMarker = s"CDF_DELETE[v=$v]"
      val mrgMarker = s"CDF_MERGE[v=$v]"
      if (!ops.contains(delMarker) && nDel > 0) {
        // vanished keys: deletes whose key is not re-inserted this hop
        // (an UPDATE emits delete+insert pairs that must not delete).
        // NOT pinned before the isEmpty probe: deleteMatching pins its
        // key frame internally, and a lazy pin here measured WORSE
        // (the take-escalation of isEmpty over a checkpoint-marked RDD
        // costs more jobs than the one re-evaluation it saves)
        val delOnly = feed.filter(col("_change_type") === "delete")
          .select(keyCols.map(col): _*).distinct()
          .join(inserts.select(keyCols.map(col): _*).distinct(),
            keyCols, "left_anti")
        if (!delOnly.isEmpty) {
          VersionedTable.deleteMatching(spark, replicaPath, delOnly,
            keyCols, operation = delMarker); ()
        }
      }
      if (!ops.contains(mrgMarker) && nIns > 0) {
        VersionedTable.upsert(spark, replicaPath, inserts, keyCols,
          operation = mrgMarker); ()
      }
    }
  }

  /** The versioned table as a STREAMING SOURCE (the readStream half
    * of the CDF story — `stream_cdf_follow` is the batch consumer):
    * a Structured Streaming file source watches the source table's
    * commit log, and each trigger applies the newly committed
    * versions into a replica versioned table via [[cdfApplyBatch]].
    * The source checkpoint makes log-file discovery exactly-once
    * across restarts; the per-hop operation markers make the
    * application idempotent under at-least-once foreachBatch. */
  def cdfSourceFollow(spark: SparkSession, srcPath: String,
                      replicaPath: String, keyCols: Seq[String],
                      checkpoint: String)
      : StreamingQuery = {
    val logSchema = StructType(Seq(StructField("version",
      org.apache.spark.sql.types.IntegerType)))
    foreachBatchRun(spark.readStream.schema(logSchema)
      .json(s"$srcPath/_graft_log"), checkpoint)(
      cdfApplyBatch(spark, srcPath, replicaPath, keyCols))
  }

  /** Streaming exact dedup: at-least-once sources (retried files,
    * replayed offsets) deliver duplicate events; dedup on `event_id`
    * with watermark-bounded state. `dropDuplicatesWithinWatermark`
    * evicts seen-id state once the watermark passes its event time, so
    * state is bounded by the watermark horizon, not the stream length
    * — the property that makes exactly-once projection viable on an
    * unbounded stream. `events` carries `ts` as epoch-micros. */
  def dedupStream(events: DataFrame,
                  watermark: String = "2 hours"): DataFrame =
    events
      .withColumn("ts_time", timestamp_micros(col("ts")))
      .withWatermark("ts_time", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .drop("ts_time")

  /** Tumbling-window event counts with watermark (INCREMENTAL LIVE
    * aggregate analog). `events` must have a TimestampType `ts`. */
  def windowAgg(events: DataFrame, windowLen: String = "1 hour",
                watermark: Option[String] = Some("2 hours")): DataFrame =
    watermark.fold(events)(w => events.withWatermark("ts", w))
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(12,2)")).cast("double")
          .as("total_value"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Gap-based sessionization via flatMapGroupsWithState: a session
    * closes after `gapUs` of inactivity; closed sessions are emitted
    * append-mode. State per user, evicted on event-time timeout. */
  def sessionize(events: Dataset[EventRow], gapUs: Long)
                (implicit spark: SparkSession): Dataset[SessionOut] = {
    import spark.implicits._
    events
      .withColumn("ts_time", timestamp_micros(col("ts")))
      .withWatermark("ts_time", "2 hours")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (userId, rows, state: GroupState[SessionState]) =>
          val sorted = rows.toSeq.sortBy(e => (e.ts, e.event_id))
          var st = state.getOption
          val closed = scala.collection.mutable.ListBuffer[SessionOut]()
          sorted.foreach { e =>
            st match {
              case Some(s) if e.ts - s.last <= gapUs =>
                st = Some(s.copy(last = e.ts, n = s.n + 1))
              case Some(s) =>
                closed += SessionOut(userId, s.start, s.last, s.n)
                st = Some(SessionState(e.ts, e.ts, 1))
              case None =>
                st = Some(SessionState(e.ts, e.ts, 1))
            }
          }
          if (state.hasTimedOut) {
            st.foreach(s => closed += SessionOut(userId, s.start, s.last, s.n))
            state.remove()
          } else {
            st.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last / 1000 + gapUs / 1000, "30 minutes")
            }
          }
          closed.iterator
      }
  }

  /** Stream-stream interval join: each purchase joined to the same
    * user's clicks within the preceding `windowUs` (inclusive).
    * Watermarks bound the join state on BOTH sides — expired rows are
    * evicted, matched pairs emit in append mode once the combined
    * watermark passes. The remaining flagship Structured-Streaming
    * operator after ingest / window aggs / sessionization / merge. */
  def attributionPairsStream(clicks: DataFrame, purchases: DataFrame,
                             windowUs: Long,
                             watermark: String = "2 hours"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        timestamp_micros(col("ts")).as("c_time"),
        col("event_id").as("click_id"))
      .withWatermark("c_time", watermark)
    val p = purchases.select(col("user_id").as("p_user"),
        timestamp_micros(col("ts")).as("p_time"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_time", watermark)
    c.join(p, expr(
      s"""c_user = p_user AND
          c_time BETWEEN p_time - INTERVAL $windowUs MICROSECOND
                     AND p_time"""))
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"))
  }

  /** LEFT-OUTER stream-stream interval join: like
    * [[attributionPairsStream]] but zero-click purchases ALSO emit
    * (null `click_id`) — and only once the click-side watermark has
    * passed the purchase's event time, i.e. when no future click can
    * possibly match. This is the semantically hard half of
    * stream-stream joins: inner matches emit eagerly, outer nulls are
    * a watermark-closure event. A purchase younger than
    * (max-event-time − delay) at stream end never flushes, so a
    * bounded replay must advance the watermark past the data (e.g. a
    * sentinel row per side) to drain state deterministically. */
  def attributionOuterStream(clicks: DataFrame, purchases: DataFrame,
                             windowUs: Long,
                             watermark: String = "2 hours"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
        timestamp_micros(col("ts")).as("c_time"),
        col("event_id").as("click_id"))
      .withWatermark("c_time", watermark)
    val p = purchases.select(col("user_id").as("p_user"),
        timestamp_micros(col("ts")).as("p_time"),
        col("event_id").as("purchase_id"))
      .withWatermark("p_time", watermark)
    p.join(c, expr(
      s"""c_user = p_user AND
          c_time BETWEEN p_time - INTERVAL $windowUs MICROSECOND
                     AND p_time"""), "leftOuter")
      .select(col("p_user").as("user_id"), col("purchase_id"),
        col("click_id"))
  }

  /** Batch analog (oracle-checkable): per-purchase count of the same
    * user's clicks in the preceding window, zero-click purchases kept.
    * Pairs come from the bucketed range join — no nested loop. */
  def attributionBatch(events: DataFrame, windowUs: Long): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("ts") - windowUs).as("w_lo"), col("ts").as("w_hi"))
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts"), col("event_id").as("click_id"))
    val pairs = graft.operators.RangeJoin.pointInInterval(clicks, purchases,
      "user_id", "ts", "w_lo", "w_hi", bucketWidth = windowUs)
    purchases.select("user_id", "purchase_id")
      .join(pairs.groupBy("purchase_id").agg(count(lit(1)).as("n_clicks")),
        Seq("purchase_id"), "left")
      .select(col("purchase_id"), col("user_id"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"))
  }

  /** One micro-batch of the streaming INDEXED dedup sink — the
    * nightly-index lifecycle ([[graft.operators.Dedup.buildLshIndex]])
    * run continuously: sign the batch once, emit
    * (a) intra-batch estimated near-dup pairs and (b) pairs against
    * everything indexed so far, then append the batch's signatures +
    * bands to the index. Every write lands under `batch=<id>` with
    * directory overwrite, so a retried micro-batch is idempotent
    * (exactly-once output from at-least-once delivery, no markers
    * needed) — including retry after a PARTIAL append: the cross
    * probe excludes the current `batch=` partition, so a batch whose
    * bands already landed before a crash never pairs with itself or
    * double-reports its intra pairs as cross pairs. Band rows are
    * sub-partitioned on `bucket = band_hash % BandBuckets` (the
    * [[graft.operators.Dedup.buildLshIndex]] layout), so the probe
    * partition-prunes to the delta's buckets instead of scanning the
    * whole index each micro-batch.
    * Pair orientation is canonical (id_a < id_b), which
    * makes the union of all batches' pairs INDEPENDENT of how docs
    * were split into batches: each {a, b} bucket-mate pair is found
    * exactly once — together (intra) or when the later doc arrives
    * (cross). */
  def dedupIndexBatch(indexDir: String, pairsDir: String, shingleK: Int,
                      numPerm: Int, bands: Int, threshold: Double)
                     (batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Dedup
    val signed = batch.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingles(col("text"), shingleK), numPerm)
        .as("sig"))
      .persist()
    try {
      val intra = Dedup.estimatePairsSigned(signed, numPerm, bands, threshold)
      val cross =
        if (new java.io.File(s"$indexDir/bands").exists)
          Dedup.dedupSignedAgainstIndex(signed, indexDir, numPerm, bands,
            threshold, excludeBatch = Some(batchId))
            .select(least(col("base_id"), col("delta_id")).as("id_a"),
              greatest(col("base_id"), col("delta_id")).as("id_b"),
              col("est_jaccard"))
        else intra.limit(0)
      intra.unionByName(cross)
        .write.mode("overwrite").parquet(s"$pairsDir/batch=$batchId")
      // sigs mirror the bands' batch-major tree with the sbucket
      // partition key, so the probe's verify join prunes signature
      // partitions by candidate id (dynamic partition pruning) just
      // like the band side prunes by band hash
      signed.withColumn("sbucket", Dedup.sigBucket(col("doc_id")))
        .repartition(col("sbucket"))
        .write.mode("overwrite").partitionBy("sbucket")
        .parquet(s"$indexDir/sigs/batch=$batchId")
      // batch-major band tree (batch=N/bucket=B): the batch writes —
      // and a retried batch atomically REWRITES — exactly its own
      // `batch=N` subtree with a plain directory overwrite, so commit
      // cost stays O(batch) as the index grows (dynamic partition
      // overwrite re-listed the WHOLE bands tree per batch to decide
      // deletions — O(index) driver work every trigger). Partition
      // discovery still exposes both `batch` and `bucket` columns, so
      // the probe's bucket isin pruning and the retry's
      // `batch != N` exclusion are unchanged. The bucket repartition
      // co-locates each bucket: one file per leaf instead of
      // (#input partitions × #buckets) small files per batch.
      Dedup.lshBands(signed, "doc_id", "sig", bands, numPerm / bands)
        .withColumn("bucket", Dedup.bandBucket.cast("int"))
        .repartition(col("bucket"))
        .write.mode("overwrite").partitionBy("bucket")
        .parquet(s"$indexDir/bands/batch=$batchId")
    } finally { signed.unpersist(blocking = true); () }
  }

  /** Streaming near-dup detection against a growing signature index:
    * file-source micro-batches, each deduped against the corpus seen
    * so far and folded into the index ([[dedupIndexBatch]]). The
    * accumulated `pairsDir` equals the batch all-pairs estimate over
    * the whole corpus, however the files were batched. */
  def indexedDedupStream(spark: SparkSession, srcPath: String,
                         schema: StructType, indexDir: String,
                         pairsDir: String, checkpoint: String,
                         shingleK: Int = 3, numPerm: Int = 64,
                         bands: Int = 16, threshold: Double = 0.5,
                         maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select("doc_id", "text"), checkpoint)(
      dedupIndexBatch(indexDir, pairsDir, shingleK, numPerm, bands,
        threshold))

  /** One micro-batch of the streaming ANN probe sink — the SERVING
    * side of the persisted IVF index run continuously: each arriving
    * batch of query vectors probes the static index
    * ([[graft.operators.Similarity.annIvfIndexed]] — centroid
    * resolution, partition-pruned list scan, top-k) and lands its
    * results under `batch=<id>` with directory overwrite, so a
    * retried micro-batch is idempotent. The index never mutates
    * during serving, so the union of per-batch results is independent
    * of how queries split into batches — the batch `ann_ivf` oracle
    * checks the whole streaming lifecycle. */
  def annProbeBatch(indexPath: String, outDir: String, nprobe: Int,
                    k: Int)(batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      graft.operators.Similarity
        .annIvfIndexed(batch.sparkSession, indexPath,
          batch.select("vec_id", "embedding"), nprobe, k)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Continuous online retrieval: query vectors arrive as parquet
    * file micro-batches and probe the persisted IVF index via
    * [[annProbeBatch]]. Queries per trigger stay broadcast-small (the
    * [[graft.operators.Similarity.annIvfIndexed]] contract); the
    * index partitions read per batch are only the probed lists. */
  def annProbeStream(spark: SparkSession, srcPath: String,
                     schema: StructType, indexPath: String,
                     outDir: String, checkpoint: String,
                     nprobe: Int = 4, k: Int = 5,
                     maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema, format = "parquet",
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select("vec_id", "embedding"), checkpoint)(
      annProbeBatch(indexPath, outDir, nprobe, k))

  /** One micro-batch of the streaming anomaly monitor's count store:
    * the batch's (event_type, hour_us) counts land as a shard under
    * `batch=<id>` with directory overwrite (retry-idempotent). Hourly
    * counts are associative longs, so the merged store equals the
    * one-shot hourly aggregation however arrivals split. */
  def hourlyCountBatch(outDir: String)(batch: DataFrame,
                                       batchId: Long): Unit =
    if (!batch.isEmpty) {
      batch.select(col("event_type"),
          (col("ts") - pmod(col("ts"), lit(3600000000L))).as("hour_us"))
        .groupBy("event_type", "hour_us")
        .agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Continuous per-hour count maintenance for the trailing-window
    * anomaly monitor: event micro-batches fold count shards via
    * [[hourlyCountBatch]]. */
  def hourlyCountStream(spark: SparkSession, srcPath: String,
                        schema: StructType, outDir: String,
                        checkpoint: String,
                        maxFilesPerTrigger: Int = 3)
      : StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select("event_type", "ts"), checkpoint)(
      hourlyCountBatch(outDir))

  /** The trailing-window z-score monitor re-derived from the merged
    * count shards — equals the one-shot batch
    * [[graft.operators.TimeSeries.anomaly]] on any batch split. */
  def anomalyFromShards(spark: SparkSession, dir: String,
                        trailing: Int = 24, zThresh: Double = 3.0,
                        minHist: Int = 12): DataFrame =
    graft.operators.TimeSeries.anomalyFromHourly(
      spark.read.parquet(dir)
        .groupBy("event_type", "hour_us")
        .agg(sum(col("n")).as("n_raw")),
      trailing, zThresh, minHist)

  /** The lead/lag cross-correlation matrix re-derived from the SAME
    * merged count shards [[anomalyFromShards]] reads — one continuous
    * count store, two monitors. Equals the one-shot batch
    * [[graft.operators.TimeSeries.crosscorr]] on any batch split. */
  def crosscorrFromShards(spark: SparkSession, dir: String,
                          maxLag: Int = 12): DataFrame =
    graft.operators.TimeSeries.crosscorrFromHourly(
      spark.read.parquet(dir)
        .groupBy("event_type", "hour_us")
        .agg(sum(col("n")).as("n_raw")), maxLag)

  /** The seasonality ACF re-derived from the same merged count
    * shards — the third monitor on the one continuous store. */
  def autocorrFromShards(spark: SparkSession, dir: String,
                         maxLag: Int = 24): DataFrame =
    graft.operators.TimeSeries.autocorrFromHourly(
      spark.read.parquet(dir)
        .groupBy("event_type", "hour_us")
        .agg(sum(col("n")).as("n_raw")), maxLag)

  /** The full trend/seasonal/residual decomposition re-derived from
    * the same merged count shards — FIFTH monitor on the one
    * continuous store. Equals the one-shot batch
    * [[graft.operators.TimeSeries.decompose]] on any batch split. */
  def decomposeFromShards(spark: SparkSession, dir: String,
                          period: Int = 24): DataFrame =
    graft.operators.TimeSeries.decomposeFromHourly(
      spark.read.parquet(dir)
        .groupBy("event_type", "hour_us")
        .agg(sum(col("n")).as("n_raw")), period)

  /** The de-seasonalized MAD anomaly monitor re-derived from the same
    * merged count shards — FOURTH monitor on the one continuous
    * store, zero new state (fold once, monitor many). Equals the
    * one-shot batch [[graft.operators.TimeSeries.seasonalAnomaly]] on
    * any batch split. */
  def seasonalAnomalyFromShards(spark: SparkSession, dir: String,
                                period: Int = 24,
                                threshold: Double = 3.5): DataFrame =
    graft.operators.TimeSeries.seasonalAnomalyFromHourly(
      spark.read.parquet(dir)
        .groupBy("event_type", "hour_us")
        .agg(sum(col("n")).as("n_raw")), period, threshold)

  /** One micro-batch of the streaming as-of enrichment sink: each
    * arriving batch of left rows is enriched independently against
    * the STATIC right frame through the composed as-of join — a left
    * row's match depends only on the right side, so the union of
    * per-batch results equals the one-shot batch as-of however
    * arrivals split into batches. Results land under `batch=<id>`
    * with directory overwrite → retry-idempotent. The batch
    * asof_join oracle checks the whole streaming lifecycle. */
  def asofEnrichBatch(right: DataFrame, key: String, tsCol: String,
                      rightCols: Seq[String], outDir: String)
                     (batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      graft.operators.AsOf.asofJoin(batch, right, key, tsCol, rightCols)
        .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
    }

  /** Continuous temporal enrichment: left rows arrive as file
    * micro-batches and look up their as-of match in a static
    * dimension via [[asofEnrichBatch]] — the serving shape of every
    * "attach the latest quote/price/profile at event time" pipeline. */
  def asofEnrichStream(spark: SparkSession, srcPath: String,
                       schema: StructType, right: DataFrame,
                       outDir: String, checkpoint: String,
                       key: String, tsCol: String,
                       rightCols: Seq[String],
                       maxFilesPerTrigger: Int = 3)
      : StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      // payload only — fileIngest's source_file bookkeeping column
      // must not leak into the enriched output
      .select(schema.fieldNames.toIndexedSeq.map(
        org.apache.spark.sql.functions.col): _*), checkpoint)(
      asofEnrichBatch(right, key, tsCol, rightCols, outDir))

  /** Continuous corpus curation: document micro-batches pass the
    * hashed-token quality classifier map-side, then cross-batch
    * EXACT duplicates are suppressed in the state store
    * (`dropDuplicates` on the portable content hash — state is one
    * 8-byte hash per distinct kept text, never the text). The output
    * is keyed by content hash with only content-derived columns, so
    * the accumulated sink is independent of how arrivals split into
    * batches — which is exactly what lets a plain batch DISTINCT
    * oracle check the streaming lifecycle.
    *
    * Scale: per-batch work is map-only scoring + a state-store probe;
    * steady-state cost is O(batch), state size O(distinct kept texts)
    * — the streaming twin of `curation_pipeline`'s filter→dedup
    * stages. */
  def curationStream(spark: SparkSession, srcPath: String,
                     schema: StructType, outPath: String,
                     checkpoint: String,
                     maxFilesPerTrigger: Int = 2): StreamingQuery = {
    val sha60 = (c: Column) => org.apache.spark.sql.graft.GraftBridge.column(
      graft.functions.expressions.Sha60(
        org.apache.spark.sql.graft.GraftBridge.expression(c)))
    val toks = split(col("text"), " ")
    // the SHARED classifier formula — the streaming twin scores with
    // the same expression as the batch operator by construction
    val scoreRaw = graft.operators.TextAnalysis.clfScoreRaw(toks)
    val scored = fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(sha60(col("text")).as("text_hash"),
        size(toks).cast("long").as("n_tokens"),
        (scoreRaw.cast("double") / (size(toks) * lit(1000.0)))
          .as("clf_score"))
      .filter(col("clf_score") > 0.0)
      .dropDuplicates("text_hash")
    sinkRun(scored.writeStream.format("parquet").option("path", outPath),
      checkpoint)
  }

  /** One micro-batch of the streaming token-count sink: the batch's
    * token partial counts (one map-side-combined groupBy — the output
    * is batch-vocabulary-sized, raw text never leaves the batch) land
    * under `batch=<id>` with directory overwrite, so a retried
    * micro-batch is idempotent. Because partial counting is
    * associative, merging the accumulated shards reproduces the exact
    * corpus counts HOWEVER arrivals were split into batches — the
    * property that lets the plain batch word-count oracle check the
    * whole streaming lifecycle. */
  def tokenCountBatch(countsDir: String)(batch: DataFrame,
                                         batchId: Long): Unit =
    batch.select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("c"))
      .write.mode("overwrite").parquet(s"$countsDir/batch=$batchId")

  /** Continuous corpus token statistics — the streaming twin of
    * `heavy_hitters`: document micro-batches fold partial token
    * counts into a sharded count store via [[tokenCountBatch]].
    * Steady-state per-batch cost is O(batch vocabulary); the store
    * grows by one vocabulary-sized shard per batch and is compacted
    * with [[compactTokenCounts]] (the same associative fold), never
    * by re-reading text. */
  def tokenCountStream(spark: SparkSession, srcPath: String,
                       schema: StructType, countsDir: String,
                       checkpoint: String,
                       maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select("text"), checkpoint)(
      tokenCountBatch(countsDir))

  /** Point-in-time heavy hitters over the accumulated count shards:
    * merge (groupBy word, sum — shuffles only count rows) and filter
    * to `minCount`. Exactly the batch corpus answer at every batch
    * boundary. */
  def heavyHittersFromCounts(spark: SparkSession, countsDir: String,
                             minCount: Long): DataFrame =
    spark.read.parquet(countsDir)
      .groupBy(col("word")).agg(sum(col("c")).as("n_occurrences"))
      .filter(col("n_occurrences") >= minCount)

  /** Shard compaction: fold the whole count tree into one shard at
    * `outDir` (caller swaps it in as the new store's first batch).
    * Associativity makes the compacted store indistinguishable from
    * the original to every reader. */
  def compactTokenCounts(spark: SparkSession, countsDir: String,
                         outDir: String): Unit =
    spark.read.parquet(countsDir)
      .groupBy(col("word")).agg(sum(col("c")).as("c"))
      .write.mode("overwrite").parquet(outDir)

  /** One micro-batch of the continuous corpus-mix monitor: the
    * batch's (lang, source) cell counts land under `batch=<id>` with
    * directory overwrite (retried micro-batch → idempotent). Counting
    * is associative, so the accumulated shards merge to the one-shot
    * cell census on any batch split. */
  def mixCellsBatch(cellsDir: String)(batch: DataFrame,
                                      batchId: Long): Unit =
    graft.operators.TextAnalysis.mixCells(batch, "c")
      .write.mode("overwrite").parquet(s"$cellsDir/batch=$batchId")

  /** Continuous corpus-mix monitoring — the streaming twin of
    * `corpus_drift`: incoming document micro-batches fold
    * (lang, source) cell-count shards into a store via
    * [[mixCellsBatch]]; at any point [[mixDriftVsBase]] compares the
    * accumulated mix against a committed base snapshot. Steady-state
    * per-batch cost is one map-side-combined ≤|langs|×|sources|-row
    * agg — the corpus itself is never rescanned. */
  def mixStream(spark: SparkSession, srcPath: String,
                schema: StructType, cellsDir: String,
                checkpoint: String,
                maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select("lang", "source"), checkpoint)(
      mixCellsBatch(cellsDir))

  /** Point-in-time mix drift of the accumulated incoming shards vs a
    * committed base corpus — identical output to the batch
    * `TextAnalysis.mixDrift(base, incoming)`. */
  def mixDriftVsBase(spark: SparkSession, cellsDir: String,
                     base: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.operators.TextAnalysis.mixDriftFromCells(
      graft.operators.TextAnalysis.mixCells(base, "n_prev"),
      spark.read.parquet(cellsDir)
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("c")).as("n_cur")))

  /** One micro-batch of the streaming profile sink: the batch's
    * mergeable profile (one single-row agg — the shard is
    * #columns-sized, data never leaves the batch) lands under
    * `batch=<id>` with directory overwrite, so a retried micro-batch
    * is idempotent. Every statistic is an associative fold, so the
    * merged shards equal the exact whole-table profile HOWEVER
    * arrivals were split — the batch profile SQL is the oracle. */
  def profileBatch(profDir: String)(batch: DataFrame,
                                    batchId: Long): Unit =
    graft.operators.Profile.mergeableProfile(batch)
      .write.mode("overwrite").parquet(s"$profDir/batch=$batchId")

  /** Continuous data observability — the streaming twin of
    * `table_profile`: micro-batches fold mergeable column statistics
    * into a sharded store via [[profileBatch]]. Steady-state
    * per-batch cost is one map-side-combined single-row agg; the
    * store grows by #columns rows per batch and compacts with the
    * same merge ([[graft.operators.Profile.mergeProfiles]]). */
  def profileStream(spark: SparkSession, srcPath: String,
                    schema: StructType, profDir: String,
                    checkpoint: String,
                    maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      // profile the DATA columns, not the ingest lineage decoration
      .select(schema.fieldNames.toIndexedSeq.map(col): _*), checkpoint)(
      profileBatch(profDir))

  /** Point-in-time table profile from the accumulated shards. */
  def profileFromShards(spark: SparkSession,
                        profDir: String): org.apache.spark.sql.DataFrame =
    graft.operators.Profile.mergeProfiles(spark.read.parquet(profDir))

  /** One micro-batch of the continuous moment monitor: the batch's
    * exact integer power sums per group (#groups rows) land under
    * `batch=<id>` with directory overwrite — retry-idempotent, and
    * power sums are associative longs, so the shard store re-sums to
    * the one-shot answer on ANY arrival split. */
  def momentsBatch(momDir: String, groupCol: String)
                  (batch: DataFrame, batchId: Long): Unit =
    graft.operators.Profile.rawMoments(batch, groupCol)
      .write.mode("overwrite").parquet(s"$momDir/batch=$batchId")

  /** Continuous distribution observability — the streaming twin of
    * `moments_profile`: micro-batches fold per-group power sums via
    * [[momentsBatch]]; per-batch cost is one map-side-combined
    * #groups-row aggregate and the store compacts with the same
    * associative merge. */
  def momentsStream(spark: SparkSession, srcPath: String,
                    schema: StructType, momDir: String, groupCol: String,
                    checkpoint: String,
                    maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*), checkpoint)(
      momentsBatch(momDir, groupCol))

  /** Point-in-time grouped moment statistics from the accumulated
    * shards — identical derivation to the batch operator, so the
    * batch SQL is the oracle. */
  def momentsFromShards(spark: SparkSession, momDir: String,
                        groupCol: String): org.apache.spark.sql.DataFrame =
    graft.operators.Profile.deriveMoments(
      graft.operators.Profile.mergeMoments(
        spark.read.parquet(momDir), groupCol), groupCol)

  /** One micro-batch of the continuous overlap monitor: the batch's
    * per-source k smallest distinct content hashes land under
    * `batch=<id>` with directory overwrite — retry-idempotent, and
    * k-min sets are order statistics (the k smallest of a union of
    * k-min shards ARE the k smallest of the union), so the merged
    * store reproduces the one-shot signatures EXACTLY on any arrival
    * split. */
  def kminBatch(sigDir: String, k: Int)
               (batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      graft.operators.Overlap.kminShard(batch, k)
        .write.mode("overwrite").parquet(s"$sigDir/batch=$batchId")
    }

  /** Continuous cross-source overlap triage — the streaming twin of
    * `source_overlap`'s sketch leg: document micro-batches fold
    * per-source k-min signature shards (per-trigger cost one
    * hash+top-k over the batch), and the pairwise KMV Jaccard
    * estimate re-derives at ANY point from the ≤ k·|sources|·batches
    * row store — the corpus is never rescanned, and because the
    * k-min merge is exact the streamed estimate equals the one-shot
    * batch estimate bit-for-bit. */
  def kminStream(spark: SparkSession, srcPath: String,
                 schema: StructType, sigDir: String, k: Int,
                 checkpoint: String,
                 maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*), checkpoint)(
      kminBatch(sigDir, k))

  /** Point-in-time pairwise overlap estimates from the accumulated
    * signature shards. */
  def overlapFromShards(spark: SparkSession, sigDir: String,
                        k: Int): org.apache.spark.sql.DataFrame =
    graft.operators.Overlap.kmvEstimateFromShards(
      spark.read.parquet(sigDir), k)

  /** One micro-batch of the continuous media signature store: decode
    * the batch's PNG blobs (ImageIO per partition — the one genuinely
    * imperative step, decode-ONCE at ingest), aHash them, and land
    * the (media_id, width, height, ahash) rows under `batch=<id>`
    * with directory overwrite — retry-idempotent; signatures are
    * per-row facts, so the accumulated store is split-independent by
    * construction. */
  def imageHashBatch(sigDir: String)
                    (batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      val spark = batch.sparkSession
      import spark.implicits._
      val media = batch.select(
        regexp_extract(col("path"), "pmedia_(\\d+)\\.png$", 1)
          .cast("long").as("media_id"),
        lit("image").as("kind"),
        col("content").as("payload"),
        lit("binary_file").as("source")).as[graft.operators.MediaRow]
      graft.operators.Multimodal.imageAHash(media)(spark).toDF()
        .write.mode("overwrite").parquet(s"$sigDir/batch=$batchId")
    }

  /** Continuous media ingest + perceptual signatures — the streaming
    * front half of `image_phash_dedup`: PNG blobs arrive through the
    * binaryFile file source (the cloudFiles analog for media), each
    * micro-batch pays the decode exactly once, and dedup groups are
    * derivable at ANY point from the signature store without ever
    * re-reading (or re-decoding) landed bytes — at 100 TB the decode
    * is the dominant cost, so decode-once-at-ingest is the whole
    * game. */
  def imageHashStream(spark: SparkSession, srcDir: String,
                      sigDir: String, checkpoint: String,
                      maxFilesPerTrigger: Int = 64): StreamingQuery = {
    val binSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    foreachBatchRun(spark.readStream.format("binaryFile")
      .schema(binSchema)
      .option("pathGlobFilter", "*.png")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .load(srcDir), checkpoint)(
      imageHashBatch(sigDir))
  }

  /** Point-in-time perceptual dedup groups off the accumulated
    * signature store — the same window derivation as the batch
    * operator, so its oracle checks the whole streaming lifecycle. */
  def imageDedupFromShards(spark: SparkSession,
                           sigDir: String): org.apache.spark.sql.DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("ahash"))
    spark.read.parquet(sigDir)
      .select(col("media_id"), col("width"), col("height"), col("ahash"))
      .withColumn("canonical_id", min(col("media_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("media_id") === col("canonical_id"))
  }

  /** One micro-batch of the continuous covariance monitor: the
    * batch's exact per-(i, j) embedding moment sums land under
    * `batch=<id>` with directory overwrite — retry-idempotent, and
    * the moments are associative longs, so the merged store re-derives
    * the one-shot covariance (and therefore a CURRENT PCA/isotropy
    * readout) on ANY arrival split. */
  def covarianceBatch(covDir: String)
                     (batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      graft.operators.Spectral.rawCovariance(batch)
        .write.mode("overwrite").parquet(s"$covDir/batch=$batchId")
    }

  /** Continuous embedding-space observability — the streaming twin of
    * `embedding_covariance`: vector micro-batches fold per-(i, j)
    * moment shards (per-trigger cost one map-side-combined ≤ d²/2-row
    * aggregate); the covariance — and everything derived from it
    * (dominant axis, anisotropy) — stays answerable DURING ingest
    * without rescanning landed vectors. */
  def covarianceStream(spark: SparkSession, srcPath: String,
                       schema: StructType, covDir: String,
                       checkpoint: String,
                       maxFilesPerTrigger: Int = 2): StreamingQuery =
    // parquet staging: float vectors roundtrip bit-exactly (json
    // would re-parse decimal strings)
    foreachBatchRun(fileIngest(spark, srcPath, schema, format = "parquet",
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*), checkpoint)(
      covarianceBatch(covDir))

  /** Point-in-time covariance from the accumulated moment shards —
    * identical derivation to the batch operator, so the batch SQL is
    * the oracle. */
  def covarianceFromShards(spark: SparkSession,
                           covDir: String): org.apache.spark.sql.DataFrame =
    graft.operators.Spectral.mergeCovariance(
      spark.read.parquet(covDir))

  /** One micro-batch of continuous expectation metrics: the batch's
    * per-constraint (passed, failed) counters land under `batch=<id>`
    * with directory overwrite — retry-idempotent, and counters are
    * associative longs, so the merged store equals the one-shot DLT
    * metrics on ANY arrival split. */
  def expectationsBatch(metDir: String,
                        exps: Seq[graft.operators.Expectation])
                       (batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      graft.operators.Expectations.metrics(batch, exps)
        .write.mode("overwrite").parquet(s"$metDir/batch=$batchId")
    }

  /** Continuous data-quality metrics — the streaming twin of
    * `expectations` (DLT's live expectation counters, reference
    * 4:102-123): each micro-batch folds its one-pass conditional-
    * aggregation counters via [[expectationsBatch]]; the violation
    * trajectory is readable at any point from the tiny metric store
    * without rescanning landed data. */
  def expectationsStream(spark: SparkSession, srcPath: String,
                         schema: StructType, metDir: String,
                         exps: Seq[graft.operators.Expectation],
                         checkpoint: String,
                         maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*), checkpoint)(
      expectationsBatch(metDir, exps))

  /** Point-in-time expectation counters from the accumulated shards —
    * associative sums, so the batch metrics SQL is the oracle. */
  def expectationsFromShards(spark: SparkSession,
                             metDir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(metDir)
      .groupBy(col("constraint_name"))
      .agg(sum(col("passed_records")).as("passed_records"),
        sum(col("failed_records")).as("failed_records"))

  /** One micro-batch of the continuous Count-Min fold: the batch's
    * (r, cell) counters and probe-word truths land under
    * `batch=<id>` with directory overwrite — retry-idempotent, and
    * both are associative integer sums, so the merged store equals
    * the one-shot sketch on ANY arrival split. */
  def countMinBatch(dir: String, width: Int, depth: Int,
                    probes: Seq[String])
                   (batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      graft.operators.TextAnalysis.countMinCounters(batch, width, depth)
        .write.mode("overwrite").parquet(s"$dir/counters/batch=$batchId")
      graft.operators.TextAnalysis.countMinTruths(batch, probes)
        .write.mode("overwrite").parquet(s"$dir/truths/batch=$batchId")
    }

  /** Continuous corpus frequency observability — the streaming twin
    * of `sketch_countmin`: each document micro-batch folds its
    * depth·width counter shard; point-frequency estimates are
    * readable at any moment from the tiny counter store without
    * rescanning landed documents. */
  def countMinStream(spark: SparkSession, srcPath: String,
                     schema: StructType, dir: String, checkpoint: String,
                     width: Int, depth: Int, probes: Seq[String],
                     maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*), checkpoint)(
      countMinBatch(dir, width, depth, probes))

  /** Point-in-time probe readout from the accumulated CMS shards —
    * associative sums re-merge to the one-shot counters, so the
    * batch sketch SQL is the oracle. */
  def countMinFromShards(spark: SparkSession, dir: String, width: Int,
                         depth: Int,
                         probes: Seq[String]): org.apache.spark.sql.DataFrame = {
    val counters = spark.read.parquet(s"$dir/counters")
      .groupBy("r", "cell").agg(sum(col("n")).as("n"))
    val truths = spark.read.parquet(s"$dir/truths")
      .groupBy("word_t").agg(sum(col("true_count")).as("true_count"))
    graft.operators.TextAnalysis.countMinFromCounters(
      counters, truths, width, depth, probes)
  }

  /** One micro-batch of the continuous orphan monitor: the batch's
    * per-relation fact-side counters (rows / NULL fks / orphans
    * against the FROZEN dimension lookups) land under `batch=<id>`
    * with directory overwrite — retry-idempotent; with frozen dims
    * the counts are associative, so the merged store equals the
    * one-shot audit on ANY arrival split. `rels` maps each
    * relationship name to (fkCol, dim, pkCol); the batch is the fact
    * side of every relationship. */
  def refIntegrityBatch(riDir: String,
                        rels: Seq[(String, String, DataFrame, String)])
                       (batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      graft.operators.Expectations.orphanCounts(rels.map {
        case (name, fkCol, dim, pkCol) =>
          graft.operators.Relation(name, batch, fkCol, dim, pkCol)
      }).write.mode("overwrite").parquet(s"$riDir/batch=$batchId")
    }

  /** Continuous referential integrity — the streaming twin of
    * `ref_integrity`'s fact side: fact micro-batches are checked
    * against frozen broadcast dimensions as they land (per-trigger
    * cost: one broadcast join + a |relations|-row aggregate), so
    * orphan spikes surface DURING ingest, not at the next full
    * audit. */
  def refIntegrityStream(spark: SparkSession, srcPath: String,
                         schema: StructType, riDir: String,
                         rels: Seq[(String, String, DataFrame, String)],
                         checkpoint: String,
                         maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*), checkpoint)(
      refIntegrityBatch(riDir, rels))

  /** Point-in-time orphan counters from the accumulated shards —
    * identical sums to the batch fact-side audit, so its SQL is the
    * oracle. */
  def refIntegrityFromShards(spark: SparkSession,
                             riDir: String): org.apache.spark.sql.DataFrame =
    spark.read.parquet(riDir)
      .groupBy(col("relation"))
      .agg(sum(col("n_fk_rows")).as("n_fk_rows"),
        sum(col("n_null_fk")).as("n_null_fk"),
        sum(col("n_orphan_rows")).as("n_orphan_rows"))
      .withColumn("orphan_ppm",
        expr("n_orphan_rows * 1000000 div n_fk_rows"))

  /** One micro-batch of the continuous quantile monitor: the batch's
    * exact equi-width histogram shard (per-(group, bin) long counts)
    * lands under `batch=<id>` with directory overwrite —
    * retry-idempotent, and counts are associative, so the merged
    * store equals the one-shot histogram on ANY arrival split. */
  def histBatch(histDir: String, groupCol: String, valueCol: String,
                width: Double)(batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      graft.operators.Profile.histShard(batch, groupCol, valueCol, width)
        .write.mode("overwrite").parquet(s"$histDir/batch=$batchId")
    }

  /** Continuous quantile observability — the streaming twin of the
    * histogram-quantile readout: micro-batches fold exact equi-width
    * bin counts via [[histBatch]] (per-trigger cost one
    * map-side-combined ≤|groups|·|bins|-row aggregate), and
    * [[quantilesFromShards]] answers "where is the p99 right now"
    * at ANY point from the tiny store — the raw stream is never
    * rescanned, and unlike t-digest/KLL the merge is EXACT (the only
    * approximation is the fixed bin width, which the readout exposes
    * as the [bin_lo, bin_lo + width) bracket). */
  def histStream(spark: SparkSession, srcPath: String,
                 schema: StructType, histDir: String, groupCol: String,
                 valueCol: String, width: Double, checkpoint: String,
                 maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*), checkpoint)(
      histBatch(histDir, groupCol, valueCol, width))

  /** Point-in-time quantile brackets from the accumulated histogram
    * shards — identical integer selection to the batch derivation,
    * so the batch SQL is the oracle. */
  def quantilesFromShards(spark: SparkSession, histDir: String,
                          groupCol: String, qPpm: Seq[Long],
                          width: Double): org.apache.spark.sql.DataFrame =
    graft.operators.Profile.histQuantiles(
      spark.read.parquet(histDir), groupCol, qPpm, width)

  /** One micro-batch of the continuous dataset fingerprint: land the
    * batch's per-source (n_docs, n_tokens, content_sum) shard under
    * `batch=<id>` with directory overwrite — a retried micro-batch is
    * idempotent, and the associative sums merge to the global
    * data-card row on ANY batch split. */
  def fingerprintBatch(fpDir: String)
                      (batch: DataFrame, batchId: Long): Unit =
    graft.operators.Profile.rawFingerprint(batch)
      .write.mode("overwrite").parquet(s"$fpDir/batch=$batchId")

  /** Continuous provenance — the streaming twin of
    * `dataset_fingerprint`: document micro-batches fold per-source
    * mass + checksum shards via [[fingerprintBatch]]; per-trigger cost
    * is one map-side-combined #sources-row aggregate, and the store
    * compacts with the same associative merge. At 100 TB the corpus
    * fingerprint stays current during ingest without ever rescanning
    * landed data. */
  def fingerprintStream(spark: SparkSession, srcPath: String,
                        schema: StructType, fpDir: String,
                        checkpoint: String,
                        maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*), checkpoint)(
      fingerprintBatch(fpDir))

  /** Point-in-time fingerprint from the accumulated shards —
    * identical sums to the batch operator, so the batch SQL is the
    * oracle. */
  def fingerprintFromShards(spark: SparkSession,
                            fpDir: String): org.apache.spark.sql.DataFrame =
    graft.operators.Profile.mergeFingerprint(spark.read.parquet(fpDir))

  /** One micro-batch of the continuous mixture-mass store: land the
    * batch's per-source exact token masses under `batch=<id>` with
    * directory overwrite — a retried micro-batch is idempotent, and
    * the masses are associative long sums, so the merged store equals
    * the one-shot [[graft.operators.Mixture.sourceMasses]] on ANY
    * batch split. */
  def massBatch(massDir: String)(batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      graft.operators.Mixture.sourceMasses(batch)
        .write.mode("overwrite").parquet(s"$massDir/batch=$batchId")
    }

  /** Continuous mixture planning — the streaming twin of
    * `token_budget_fit`: document micro-batches fold per-source
    * token-mass shards via [[massBatch]] (per-trigger cost one
    * map-side-combined |sources|-row aggregate), and the waterfilling
    * fit re-solves at ANY point from the tiny mass store — the corpus
    * itself is never rescanned. At 100 TB this is how "can we still
    * hit the token budget, and at what epoch mix?" stays answerable
    * during ingest. */
  def massStream(spark: SparkSession, srcPath: String,
                 schema: StructType, massDir: String,
                 checkpoint: String,
                 maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema,
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select(schema.fieldNames.toIndexedSeq.map(col): _*), checkpoint)(
      massBatch(massDir))

  /** Point-in-time waterfilling fit from the accumulated mass
    * shards — identical sums to the batch operator, so the batch fit
    * SQL is the oracle. */
  def fitFromShards(spark: SparkSession, massDir: String,
                    budgetTokens: Long,
                    maxEpochsPct: Long): org.apache.spark.sql.DataFrame =
    graft.operators.Mixture.fitMasses(
      spark.read.parquet(massDir)
        .groupBy(col("source")).agg(sum(col("m")).as("m")),
      budgetTokens, maxEpochsPct)

  /** One micro-batch of continuous IVF index health: assign the
    * batch's vectors under the FROZEN quantizer (centroids are an
    * argument — a serving quantizer never retrains per trigger) and
    * land the per-cell counts under `batch=<id>` with directory
    * overwrite, so a retried micro-batch is idempotent. Counts are
    * associative, so the merged shard store equals the one-shot
    * [[graft.operators.Similarity.cellStats]] audit on ANY batch
    * split — which is what lets the batch oracle check the stream. */
  def cellCountBatch(cents: Array[Array[Double]], countsDir: String)
                    (batch: DataFrame, batchId: Long): Unit =
    if (!batch.isEmpty) {
      batch.select(graft.operators.Similarity
          .clusterOf(col("embedding"), cents).as("cluster"))
        .groupBy(col("cluster")).agg(count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"$countsDir/batch=$batchId")
    }

  /** Continuous index-health maintenance — the streaming twin of
    * `ivf_cell_stats`: embedding micro-batches fold per-cell counts
    * into a sharded store via [[cellCountBatch]]. Steady-state cost
    * per trigger is one map-only assignment + a ≤nlist-row
    * map-side-combined agg; the store grows ≤nlist rows per batch and
    * compacts with the same sum. At 100 TB this is how the index's
    * imbalance stays observable during ingest without ever rescanning
    * the corpus. */
  def cellStatsStream(spark: SparkSession, srcPath: String,
                      schema: StructType, cents: Array[Array[Double]],
                      countsDir: String, checkpoint: String,
                      maxFilesPerTrigger: Int = 2): StreamingQuery =
    foreachBatchRun(fileIngest(spark, srcPath, schema, format = "parquet",
      maxFilesPerTrigger = maxFilesPerTrigger)
      .select("vec_id", "embedding"), checkpoint)(
      cellCountBatch(cents, countsDir))

  /** Point-in-time index health from the accumulated count shards. */
  def cellStatsFromShards(spark: SparkSession, countsDir: String,
                          nlist: Int): org.apache.spark.sql.DataFrame =
    graft.operators.Similarity.cellStatsFromCounts(
      spark.read.parquet(countsDir)
        .groupBy(col("cluster")).agg(sum(col("n")).as("n_vectors")),
      nlist)

  /** [[sessionize]] driven end-to-end from a FILE source into an
    * append-mode parquet sink: the full production wiring (file
    * discovery → event-time state store → checkpointed exactly-once
    * sink). Sessions close on the gap rule inline or via event-time
    * timeout when the watermark passes; the caller stages per-user
    * closing sentinels when it needs every real session flushed in
    * one run (the oracle-checked query does). */
  def sessionizeFileStream(spark: SparkSession, srcPath: String,
                           schema: StructType, outDir: String,
                           checkpoint: String, gapUs: Long,
                           maxFilesPerTrigger: Int = 32): StreamingQuery = {
    implicit val sp: SparkSession = spark
    import spark.implicits._
    val events = fileIngest(spark, srcPath, schema,
        maxFilesPerTrigger = maxFilesPerTrigger)
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .as[EventRow]
    sinkRun(sessionize(events, gapUs).toDF().writeStream
      .format("parquet").option("path", outDir), checkpoint)
  }

  /** [[windowAgg]] driven end-to-end from a FILE source into an
    * append-mode parquet sink — closed windows only, emitted when the
    * watermark passes each window end (AvailableNow runs the no-data
    * flush batch after the last file batch). */
  def windowAggFileStream(spark: SparkSession, srcPath: String,
                          schema: StructType, outDir: String,
                          checkpoint: String,
                          windowLen: String = "1 hour",
                          watermark: String = "0 seconds",
                          maxFilesPerTrigger: Int = 32): StreamingQuery =
    sinkRun(windowAgg(
      fileIngest(spark, srcPath, schema,
          maxFilesPerTrigger = maxFilesPerTrigger)
        .withColumn("ts", timestamp_micros(col("ts"))),
      windowLen, Some(watermark))
      .writeStream.format("parquet").option("path", outDir), checkpoint)

  /** Batch analog of gap-based sessionization (oracle-checkable):
    * session boundaries via lag(), session ids via a running sum,
    * one aggregated row per session. Two window passes + one groupBy,
    * all shuffled on user_id once. */
  def sessionizeBatch(events: DataFrame, gapUs: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val marked = events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") - col("prev_ts") > gapUs, 1)
          .otherwise(0))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    marked.groupBy(col("user_id"), col("session_seq"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).cast("int").as("n_events"))
  }

  /** REAL watermark-drop semantics, end to end: replay a
    * deterministic sample of events through an actual Structured
    * Streaming windowed aggregation (MemoryStream source — exact
    * batch boundaries, one batch per chunk) with
    * `withWatermark(delay)`, and emit the per-window counts the
    * engine produces in APPEND mode. A closing sentinel advances the
    * watermark past every real window so they all finalize.
    *
    * This is the SEMANTIC-FIDELITY proof for the closed-form
    * lateness model (late_arrival_audit / watermark_curve): the
    * oracle re-derives the engine's exact accept rule — a row
    * survives iff its window END is strictly later than
    * (max event-time over strictly earlier batches − delay), the
    * watermark being fixed within a batch — calibrated empirically
    * against Spark 4 and pinned here. Second-aligned windows +
    * whole-second delays make the engine's ms-floored watermark
    * indistinguishable from the exact-µs model (proof in the oracle
    * comment), so the comparison is bit-exact.
    *
    * Scale note: this is a REPLAY HARNESS (the sample collects to
    * the driver to drive exact batch boundaries) — the production
    * path is the file-source streams; the closed-form audits are the
    * 100 TB-scale tools this run validates. The driver-side sample
    * is bounded by an ABSOLUTE row budget, not a proportion: the
    * hash modulus is ceil(n / sampleBudget)
    * ([[graft.operators.Similarity.sampleModulus]]), so the expected
    * replay size stays ≈ sampleBudget rows at ANY input cardinality
    * — 100×ing the events table cannot OOM the driver. */
  def watermarkDropRun(spark: SparkSession, events: DataFrame,
                       delayUs: Long, windowUs: Long, nBatches: Int,
                       sampleBudget: Int, outDir: String): org.apache.spark.sql.DataFrame = {
    require(delayUs % 1000000L == 0 && windowUs % 1000000L == 0,
      "whole-second delay/window keep the ms-floored watermark exact")
    require(sampleBudget >= 1, "sampleBudget must be positive")
    val sampleMod = graft.operators.Similarity
      .sampleModulus(events.count(), sampleBudget)
    import spark.implicits._
    val sha60 = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.graft.GraftBridge.column(
        graft.functions.expressions.Sha60(
          org.apache.spark.sql.graft.GraftBridge.expression(c)))
    val ordered = events
      .filter(pmod(sha60(concat(lit("wmd:"), col("event_id").cast("string"))),
        lit(sampleMod)) === 0)
      .select(col("event_id"), col("ts"),
        sha60(concat(lit("arr:"), col("event_id").cast("string"))).as("arr"))
      .orderBy(col("arr"), col("event_id"))
      .select("event_id", "ts").as[(Long, Long)].collect()
    val chunkSize = math.max(1, (ordered.length + nBatches - 1) / nBatches)
    val chunks = ordered.grouped(chunkSize).toSeq
    val maxTs = if (ordered.isEmpty) 0L else ordered.map(_._2).max
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, Long)]
    val counted = ms.toDF().toDF("event_id", "ts_us")
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", s"${delayUs / 1000000L} seconds")
      .groupBy(window(col("ts"), s"${windowUs / 1000000L} seconds"))
      .agg(count(lit(1)).as("n"))
      .select(unix_micros(col("window.start")).as("window_start_us"),
        col("n"))
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outDir))
    val ckpt = java.nio.file.Files
      .createTempDirectory("graft_wmd_ckpt").toString
    val q = counted.writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("append").format("parquet").option("path", outDir)
      .start()
    chunks.foreach { c => ms.addData(c.toSeq); q.processAllAvailable() }
    val sentinelTs = maxTs + delayUs + 2L * windowUs + windowUs
    ms.addData(Seq((-1L, sentinelTs)))
    q.processAllAvailable()
    q.stop()
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckpt))
    val sentinelWindowStart = sentinelTs - sentinelTs % windowUs
    spark.read.parquet(outDir)
      .filter(col("window_start_us") < lit(sentinelWindowStart))
  }

  /** Session-shape report over [[sessionizeBatch]]'s islands: per
    * events-per-session size, how many sessions, their exact total
    * duration, and the mean duration as one fixed division — the
    * engagement histogram (bounce rate = the n_events=1 row) read
    * off the session table. Durations are integer micros, sums
    * order-independent; output is O(distinct session sizes). */
  def sessionStatsBatch(events: DataFrame, gapUs: Long): DataFrame =
    sessionizeBatch(events, gapUs)
      .groupBy(col("n_events"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("session_end") - col("session_start"))
          .as("total_duration_us"))
      .select(col("n_events").cast("long").as("n_events"),
        col("n_sessions"), col("total_duration_us"),
        (col("total_duration_us").cast("double") /
          col("n_sessions").cast("double")).as("mean_duration_us"))
}
