package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.operators.Materialize.Pinnable
import graft.streaming.Streams

/** Declarative multi-stage pipeline runner — Spark-native
  * re-expression of the reference's DLT pipeline surface: a LIVE
  * TABLE graph with per-table EXPECT constraints (reference
  * `4  Delta Live Tables (SQL).sql`:20-123) whose run emits an event
  * log that per-flow expectation-metrics queries can read (reference
  * `3 Delta Live Tables Setup.py`:134-152).
  *
  * Each stage's output is materialized as a [[VersionedTable]] under
  * `storageDir/<stage>` (like DLT materializing LIVE tables, with
  * history + time travel for free), and the next stage reads the
  * materialized parquet — so a K-stage pipeline scans its input once
  * per stage, never K·(K−1)/2 times from recursive lazy plans. The
  * event log is a tiny driver-side frame (constraints × stages rows),
  * exactly like DLT's runtime-emitted log.
  */
object Pipeline {

  /** ON VIOLATION handling for a stage's expectation suite. */
  sealed trait OnViolation
  object OnViolation {
    /** record metrics only (plain EXPECT) */
    case object Keep extends OnViolation
    /** EXPECT ... ON VIOLATION DROP ROW */
    case object DropRows extends OnViolation
    /** EXPECT ... ON VIOLATION FAIL UPDATE */
    case object Fail extends OnViolation
  }

  final case class Stage(
    name: String,
    transform: DataFrame => DataFrame,
    expectations: Seq[Expectation] = Nil,
    onViolation: OnViolation = OnViolation.Keep,
    /** incremental runs only: per-stage (key, orderCol, tieBreaker)
      * override for the versioned MERGE — e.g. an exact-dedup stage
      * merges on the content hash keeping the smallest id (orderCol =
      * a negated id), while the rest of the graph merges on the
      * entity key by recency. */
    merge: Option[(String, String, String)] = None,
    /** incremental runs only: COMPLETE-mode stage (a DLT aggregate
      * LIVE TABLE next to INCREMENTAL ones) — the transform runs over
      * the PREVIOUS stage's full merged table each micro-batch and the
      * result replaces the stage table (a new full-snapshot version),
      * instead of merging batch rows. The right mode for gold
      * aggregates, whose groups can't be row-merged. */
    recompute: Boolean = false)

  final case class RunResult(
    /** stage name → its materialized table (latest version) */
    tables: Map[String, DataFrame],
    /** (stage_seq, flow_name, constraint_name, passed_records,
      * failed_records) — one row per constraint per stage */
    eventLog: DataFrame)

  val EventLogSchema: StructType = StructType(Seq(
    StructField("stage_seq", IntegerType, nullable = false),
    StructField("flow_name", StringType, nullable = false),
    StructField("constraint_name", StringType, nullable = false),
    StructField("passed_records", LongType, nullable = false),
    StructField("failed_records", LongType, nullable = false)))

  /** Run the stage chain over `input`, materializing each stage and
    * recording expectation metrics. Metrics are evaluated on the
    * stage's transform output BEFORE drop-row filtering (DLT counts
    * candidate rows, then drops). */
  def run(spark: SparkSession, input: DataFrame, stages: Seq[Stage],
          storageDir: String): RunResult = {
    require(stages.nonEmpty, "pipeline needs at least one stage")
    require(stages.map(_.name).distinct.size == stages.size,
      "stage names must be unique")
    val logRows = scala.collection.mutable.ArrayBuffer[Row]()
    var cur = input
    val outTables = stages.zipWithIndex.map { case (st, i) =>
      // stages with expectations take two actions over the candidate
      // (metrics scan + versioned write) — persist so the transform is
      // computed once, not once per action
      val candidate =
        if (st.expectations.nonEmpty)
          st.transform(cur).persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else st.transform(cur)
      if (st.expectations.nonEmpty) {
        val m = Expectations.metrics(candidate, st.expectations).collect()
        m.foreach { r =>
          logRows += Row(i, st.name, r.getString(0), r.getLong(1),
            r.getLong(2))
        }
        // Fail mode reuses the already-collected counters — no second
        // metrics scan of the stage input
        if (st.onViolation == OnViolation.Fail) {
          val bad = m.filter(_.getLong(2) > 0)
          if (bad.nonEmpty) {
            val detail = bad
              .map(r => s"${r.getString(0)}: ${r.getLong(2)} failed")
              .mkString("; ")
            throw new ExpectationViolation(
              s"expectations violated in stage ${st.name} — $detail")
          }
        }
      }
      val out = st.onViolation match {
        case OnViolation.DropRows =>
          Expectations.dropInvalid(candidate, st.expectations)
        case _ => candidate
      }
      val path = s"$storageDir/${st.name}"
      VersionedTable.write(out, path, operation = s"PIPELINE[${st.name}]")
      if (st.expectations.nonEmpty) candidate.unpersist()
      cur = VersionedTable.read(spark, path)
      st.name -> cur
    }.toMap
    val log = spark.createDataFrame(
      new java.util.ArrayList[Row](scala.jdk.CollectionConverters
        .SeqHasAsJava(logRows.toSeq).asJava), EventLogSchema)
    RunResult(outTables, log)
  }

  // ------------------------------------------------------------------
  // Incremental (streaming) pipeline — the reference's INCREMENTAL
  // LIVE TABLE graph (`4  Delta Live Tables (SQL).sql`:20-80): each
  // stage consumes the new rows of every micro-batch, records its
  // expectation metrics per batch, and MERGEs its output into a
  // VersionedTable keyed by `key` with recency order (`orderCol`,
  // `tieBreaker`) — so the final tables are independent of how the
  // source files were split across micro-batches, and a restart over
  // the same checkpoint picks up only new files.
  // ------------------------------------------------------------------

  /** Per-micro-batch event log row layout (the batch-grained analog of
    * [[EventLogSchema]], persisted under `storageDir/_event_log`). */
  val IncEventLogSchema: StructType = StructType(Seq(
    StructField("batch_id", LongType, nullable = false),
    StructField("stage_seq", IntegerType, nullable = false),
    StructField("flow_name", StringType, nullable = false),
    StructField("constraint_name", StringType, nullable = false),
    StructField("passed_records", LongType, nullable = false),
    StructField("failed_records", LongType, nullable = false)))

  private def incLogDir(storageDir: String) = s"$storageDir/_event_log"

  /** The persisted per-batch expectation metrics of an incremental
    * pipeline run (empty frame when no stage has expectations). */
  def incrementalEventLog(spark: SparkSession, storageDir: String): DataFrame = {
    val dir = new java.io.File(incLogDir(storageDir))
    if (dir.exists())
      spark.read.schema(IncEventLogSchema).parquet(dir.toString)
    else spark.createDataFrame(new java.util.ArrayList[Row](),
      IncEventLogSchema)
  }

  /** One micro-batch through the stage chain. Exactly-once per stage
    * via a batch-id marker in the stage table's commit log (a retried
    * batch id is a no-op — `foreachBatch`'s at-least-once delivery
    * becomes exactly-once tables, the [[graft.streaming.Streams
    * .mergeBatch]] discipline). Stage i+1 consumes stage i's BATCH
    * output (the incremental flow), never a re-read of the whole
    * table. Public so specs can drive retry semantics directly. */
  def incrementalBatch(spark: SparkSession, stages: Seq[Stage],
                       storageDir: String, key: String, orderCol: String,
                       tieBreaker: String)
                      (batch: DataFrame, batchId: Long): Unit = {
    val persisted = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var cur = batch
    var prevPath: Option[String] = None
    stages.zipWithIndex.foreach { case (st, i) =>
      val path = s"$storageDir/${st.name}"
      val marker = s"PIPELINE_INC[${st.name},batch=$batchId]"
      // COMPLETE-mode stages read the upstream MERGED table (which
      // already contains this batch — it committed earlier in this
      // loop); incremental stages consume the batch flow
      val input =
        if (st.recompute) {
          require(prevPath.nonEmpty,
            s"recompute stage ${st.name} needs an upstream stage")
          VersionedTable.read(spark, prevPath.get)
        } else cur
      // each stage takes up to two actions over its candidate (metrics
      // scan + versioned merge) and feeds the next stage — persist
      // until the whole batch chain has committed
      val candidate = st.transform(input)
      if (st.expectations.nonEmpty) {
        candidate.persist(
          org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        persisted += candidate
      }
      val out = st.onViolation match {
        case OnViolation.DropRows =>
          Expectations.dropInvalid(candidate, st.expectations)
        case _ => candidate
      }
      // the marker guards commit + metrics, not the dataflow: a
      // retried batch still flows downstream so later stages whose
      // commit DID fail can catch up
      if (!VersionedTable.operations(path).contains(marker)) {
        if (st.expectations.nonEmpty) {
          val m = Expectations.metrics(candidate, st.expectations).collect()
          if (st.onViolation == OnViolation.Fail) {
            val bad = m.filter(_.getLong(2) > 0)
            if (bad.nonEmpty) throw new ExpectationViolation(
              s"expectations violated in stage ${st.name}, batch $batchId — " +
                bad.map(r => s"${r.getString(0)}: ${r.getLong(2)} failed")
                  .mkString("; "))
          }
          val logRows = m.map(r => Row(batchId, i, st.name, r.getString(0),
            r.getLong(1), r.getLong(2)))
          spark.createDataFrame(
            new java.util.ArrayList[Row](scala.jdk.CollectionConverters
              .SeqHasAsJava(logRows.toSeq).asJava), IncEventLogSchema)
            .write.mode("append").parquet(incLogDir(storageDir))
        }
        if (st.recompute)
          VersionedTable.write(out, path, operation = marker)
        else {
          val (k, o, t) = st.merge.getOrElse((key, orderCol, tieBreaker))
          val deduped = Medallion.dedupLatest(out, k, o, t)
          if (VersionedTable.versions(path).isEmpty)
            VersionedTable.write(deduped, path, operation = marker)
          else
            VersionedTable.upsertLatest(spark, path, deduped, k, o, t,
              operation = marker)
        }
        ()
      }
      cur = out
      prevPath = Some(path)
    }
    persisted.foreach(_.unpersist())
  }

  /** Run the stage chain incrementally over a file-source stream
    * rooted at `srcPath` (AvailableNow: drain everything new, then
    * stop). Re-running with the same checkpoint processes only files
    * added since the last run — the INCREMENTAL refresh. */
  def runIncremental(spark: SparkSession, srcPath: String,
                     schema: StructType, payloadCols: Seq[String],
                     stages: Seq[Stage], storageDir: String,
                     checkpoint: String, key: String, orderCol: String,
                     tieBreaker: String, maxFilesPerTrigger: Int = 3,
                     /** >0: vacuum each stage table down to the last N
                       * snapshots after the run — an incremental table
                       * commits one version per micro-batch, so a
                       * long-lived pipeline needs a retention policy
                       * exactly like Delta's. History stays listable. */
                     retainVersions: Int = 0): RunResult = {
    require(stages.nonEmpty, "pipeline needs at least one stage")
    require(stages.map(_.name).distinct.size == stages.size,
      "stage names must be unique")
    import org.apache.spark.sql.functions.col
    Streams.awaitDone(Streams.foreachBatchRun(
      Streams.fileIngest(spark, srcPath, schema,
          maxFilesPerTrigger = maxFilesPerTrigger)
        .select(payloadCols.map(col): _*), checkpoint)(
      incrementalBatch(spark, stages, storageDir, key, orderCol,
        tieBreaker)), timeoutMs = 120000)
    if (retainVersions > 0)
      stages.foreach(st =>
        VersionedTable.vacuum(s"$storageDir/${st.name}", retainVersions))
    val tables = stages.map(st =>
      st.name -> VersionedTable.read(spark, s"$storageDir/${st.name}")).toMap
    RunResult(tables, incrementalEventLog(spark, storageDir))
  }

  private val cdfDoneRe = """PIPELINE_CDF_DONE\[v=(\d+)\]""".r

  /** One BRONZE version through the stage chain — the CDF-fed analog
    * of [[incrementalBatch]]. The hop's INSERT rows (v0 = the seed
    * snapshot; later hops = the version diff's inserts) are tagged
    * with the source version as `_graft_src_version` — so a
    * recency-merge ordered on that column replays updates in exact
    * CDF order, independent of payload values — and flow through the
    * stages like a micro-batch. Keys that VANISHED at the source
    * (full-row deletes — the GDPR case) are then deleted from every
    * pipeline-keyed incremental stage, and COMPLETE-mode stages
    * re-snapshot so gold aggregates reflect the deletes. Every step
    * is marker-idempotent; the `PIPELINE_CDF_DONE[v=N]` cursor on the
    * HEAD stage commits LAST, so a crash mid-hop replays only no-op
    * steps. Cost per hop is O(that version's change), never
    * O(bronze). */
  private[operators] def cdfHop(spark: SparkSession, bronzePath: String,
                                stages: Seq[Stage], storageDir: String,
                                key: String, orderCol: String,
                                tieBreaker: String, v: Int): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val (ins0, delKeys, nIns) =
      if (v == 0) (VersionedTable.read(spark, bronzePath, Some(0)), None,
        1L)
      else {
        // LAZY pin materialized by one census collect — replaces the
        // eager pin + two per-leg isEmpty probes (optimization r14);
        // a hop with no deletes skips the vanished-key anti-join
        // without running it
        val feed = VersionedTable.changes(spark, bronzePath, v - 1, v)
          .pin(false)
        import org.apache.spark.sql.functions.{coalesce, sum, when}
        val census = feed.agg(
          coalesce(sum(when(col("_change_type") === "insert", 1L)
            .otherwise(0L)), lit(0L)),
          coalesce(sum(when(col("_change_type") === "delete", 1L)
            .otherwise(0L)), lit(0L)))
          .collect()(0)
        val (ni, nd) = (census.getLong(0), census.getLong(1))
        val ins = feed.filter(col("_change_type") === "insert")
          .drop("_change_type")
        val del =
          if (nd == 0) None
          else {
            // lazy pin BEFORE the isEmpty probe: the probe materializes
            // the checkpoint, so the delete verb below reuses the
            // blocks instead of re-running the anti-join
            val d = feed.filter(col("_change_type") === "delete")
              .select(col(key)).distinct()
              .join(ins.select(col(key)).distinct(), Seq(key),
                "left_anti")
              .pin(eager = false)
            if (d.isEmpty) None else Some(d)
          }
        (ins, del, ni)
      }
    val head = s"$storageDir/${stages.head.name}"
    val emptyHop = v > 0 && delKeys.isEmpty && nIns == 0L
    if (!emptyHop) {
      val ins = ins0.withColumn("_graft_src_version", lit(v))
      incrementalBatch(spark, stages, storageDir, key, orderCol,
        tieBreaker)(ins, v.toLong)
      delKeys.foreach { dk =>
        stages.foreach { st =>
          val path = s"$storageDir/${st.name}"
          // delete propagation needs the stage table keyed on the
          // PIPELINE key — stages merging on their own key (st.merge)
          // transform past it and recompute stages re-snapshot below
          if (!st.recompute && st.merge.isEmpty) {
            val m = s"PIPELINE_CDF_DEL[${st.name},v=$v]"
            if (!VersionedTable.operations(path).contains(m)) {
              VersionedTable.deleteMatching(spark, path, dk, Seq(key),
                operation = m); ()
            }
          }
        }
        var prevPath: Option[String] = None
        stages.foreach { st =>
          val path = s"$storageDir/${st.name}"
          if (st.recompute && prevPath.nonEmpty) {
            val m = s"PIPELINE_CDF_RC[${st.name},v=$v]"
            if (!VersionedTable.operations(path).contains(m)) {
              VersionedTable.write(
                st.transform(VersionedTable.read(spark, prevPath.get)),
                path, operation = m); ()
            }
          }
          prevPath = Some(path)
        }
      }
    }
    val done = s"PIPELINE_CDF_DONE[v=$v]"
    if (VersionedTable.versions(head).nonEmpty &&
        !VersionedTable.operations(head).contains(done)) {
      val hv = VersionedTable.latestVersion(head).get
      VersionedTable.commitActions(head, done, hv, Set.empty, Nil,
        VersionedTable.schemaOf(head, hv)); ()
    }
  }

  /** One notification trigger: apply every bronze version past the
    * head stage's DONE cursor, in order. The file-stream batch payload
    * is ignored — the commit log is purely the wake-up channel, so
    * any batch split/ordering is safe (the [[graft.streaming.Streams
    * .cdfApplyBatch]] discipline). */
  private def cdfIncrementalBatch(spark: SparkSession, bronzePath: String,
                                  stages: Seq[Stage], storageDir: String,
                                  key: String, orderCol: String,
                                  tieBreaker: String)
                                 (batch: DataFrame, batchId: Long): Unit = {
    val head = s"$storageDir/${stages.head.name}"
    val from =
      if (VersionedTable.versions(head).isEmpty) -1
      else (VersionedTable.operations(head).flatMap(op =>
        cdfDoneRe.findFirstMatchIn(op).map(_.group(1).toInt)) :+ -1).max
    val latest = VersionedTable.latestVersion(bronzePath).getOrElse(-1)
    ((from + 1) to latest).foreach(v =>
      cdfHop(spark, bronzePath, stages, storageDir, key, orderCol,
        tieBreaker, v))
  }

  /** Run the stage chain incrementally over a VERSIONED BRONZE table's
    * CHANGE FEED — the DLT-graph integration of the CDF source: a
    * Structured Streaming file source watches the bronze commit log
    * (new log file = new version), and each trigger pushes the newly
    * committed versions through the silver/gold stages as keyed
    * O(change) verbs. Re-running with the same checkpoint resumes from
    * the DONE cursor — commits landed while the pipeline was down flow
    * on restart, and a redelivered notification re-applies nothing.
    * Bronze is consumed as DELTAS, never re-snapshotted: at 100 TB the
    * silver refresh costs what changed. */
  def runIncrementalCdf(spark: SparkSession, bronzePath: String,
                        stages: Seq[Stage], storageDir: String,
                        checkpoint: String, key: String, orderCol: String,
                        tieBreaker: String): RunResult = {
    require(stages.nonEmpty, "pipeline needs at least one stage")
    require(stages.map(_.name).distinct.size == stages.size,
      "stage names must be unique")
    val logSchema = StructType(Seq(StructField("version", IntegerType)))
    Streams.awaitDone(Streams.foreachBatchRun(
      spark.readStream.schema(logSchema)
        .json(s"$bronzePath/_graft_log"), checkpoint)(
      cdfIncrementalBatch(spark, bronzePath, stages, storageDir, key,
        orderCol, tieBreaker)), timeoutMs = 180000)
    val tables = stages.map(st =>
      st.name -> VersionedTable.read(spark, s"$storageDir/${st.name}")).toMap
    RunResult(tables, incrementalEventLog(spark, storageDir))
  }
}
