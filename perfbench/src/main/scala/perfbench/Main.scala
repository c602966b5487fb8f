package perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import Harness.median

/** One benchmark process: build the session the way `graft.Bench`
  * does, set up the workload several times (generate inputs, create
  * base tables) after one untimed warm-up pass, run whole passes of
  * the workload's ops for the requested seconds (at least two), and
  * write everything measured to a JSON file for `run.py`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --out FILE [--spans FILE]
  *
  * With `--trace 1` passes alternate untraced/traced; spans and
  * listener counters are taken on the traced ones only, and the
  * ratio of their median pass times is the tracing overhead. */
object Main {
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    def mark(phase: String): Unit = System.err.println(
      f"[perfbench] $phase at ${(System.currentTimeMillis() - jvmStart) / 1000}%.1f s")

    val b0 = System.currentTimeMillis()
    val builder = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
    graft.SessionTuning.sparkConf(cores).foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionReady = System.currentTimeMillis()
    val tr = new Tracer(spark)
    val h = new Harness(spark, seed, tr)
    h.outDir = s"$work/out"
    /** the workload at its full size, or scaled down for the warm-up */
    def workload(scale: Int = 1): Workload = a("workload") match {
      case "lakehouse_cdc" => new Lakehouse(nRows = 60000 / scale, nCust = 6000 / scale)
      case "corpus_dedup" =>
        new CorpusDedup(nDocs = 600 / scale, k = 2, nVecs = 1200 / scale, dupRate = 0.1)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val wl = workload()

    // warm-up: one untimed pass of the workload on inputs of its own, a
    // quarter of the size, so JIT, codegen and class loading are paid
    // before set-up and the timed phase
    val w0 = System.nanoTime()
    val warmup = workload(scale = 4)
    h.dataDir = s"$work/warmup"
    warmup.setup(h, h.dataDir)
    warmup.pass(h, 0).zipWithIndex.foreach { case (op, k) =>
      try op.run(-1 - k) catch { case e: Throwable =>
        System.err.println(s"[perfbench] warm-up ${op.name} FAILED: ${e.getMessage}") }
    }
    delete(h.dataDir); delete(h.outDir)
    val warmupS = (System.nanoTime() - w0) / 1e9
    mark("warm-up pass done")

    // set-up, repeated: Bench-style warm-up job, input generation, base tables
    val warm = mutable.ArrayBuffer[Double]()
    val setups = mutable.ArrayBuffer[Double]()
    for (rep <- 0 until SetupReps) {
      val t0 = System.nanoTime()
      spark.range(1000000L).selectExpr("sum(id)").collect()
      val t1 = System.nanoTime()
      if (rep > 0) delete(h.dataDir)
      h.dataDir = s"$work/data$rep"
      wl.setup(h, h.dataDir)
      warm += (t1 - t0) / 1e9
      setups += (System.nanoTime() - t0) / 1e9
    }
    val setupS = (sessionReady - jvmStart) / 1000 + warmupS + median(setups.toSeq)

    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(25000000L * cores).selectExpr("sum(id * 2)").collect()
      (System.nanoTime() - t0) / 1e9
    }
    val calBefore = calibrate()
    mark("set-up done")

    // timed phase: whole passes, at least two (three in trace mode,
    // where passes alternate untraced/traced). After those a pass starts
    // only if the previous one says it will end within the time
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[(Boolean, Double)]()
    val opSpan = mutable.HashMap[Int, (Double, Double)]()
    var cachedBlocks = 0
    val minPasses = if (trace) 3 else 2
    val cpu0 = cpuJiffies()
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var i = 0; var opId = 0
    while (i < minPasses || elapsed + passes.last._2 <= seconds) {
      val traced = trace && i % 2 == 1
      val passOps = wl.pass(h, i) // lands the pass's inputs: not timed
      if (traced) tr.start()
      val p0 = System.nanoTime()
      for (op <- passOps) {
        wl.beforeOp(h, op)
        tr.op = opId
        val t0 = tr.now
        val (ok, result, err) =
          try (true, tr.span(op.root)(op.run(opId)), "")
          catch { case e: Throwable =>
            (false, Nil, Option(e.getMessage).getOrElse(e.toString).linesIterator.take(1).mkString)
          }
        val t1 = tr.now
        tr.op = -1
        if (!ok) System.err.println(s"[perfbench] ${op.name} FAILED: $err")
        wl.afterOp(h, op, ok, result)
        if (traced) {
          opSpan(opId) = (t0, t1)
          val sc = spark.sparkContext
          cachedBlocks = cachedBlocks.max(sc.getPersistentRDDs.size +
            sc.getRDDStorageInfo.map(_.numCachedPartitions).sum)
        }
        ops += Map("name" -> op.name, "kind" -> op.kind, "pass" -> i, "traced" -> traced,
          "latency_s" -> (t1 - t0) / 1000, "ok" -> ok, "error" -> err, "result" -> result)
        opId += 1
      }
      passes += ((traced, (System.nanoTime() - p0) / 1e9))
      if (traced) tr.stop()
      i += 1
    }
    mark("timed phase done")
    val cpu1 = cpuJiffies()
    val stealShare = (cpu1._2 - cpu0._2).toDouble / (cpu1._1 - cpu0._1).max(1)
    val calAfter = calibrate()
    val liveHeap = liveHeapMb()
    val peakRssMb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

    val layers = if (trace) layerMetrics(h, wl, passes.toSeq, opSpan.toMap, cachedBlocks,
      setupBuild = (sessionReady - b0) / 1000.0, warm = median(warm.toSeq)) +
      ("jvm.live_heap_mb" -> liveHeap) else Map.empty
    // self time: a span's duration minus the part its children cover
    val children = tr.spans.groupBy(_.parent)
    val self = tr.spans.map(s => s -> (s.dur - union(children.getOrElse(s.id, Nil)
      .map(c => (c.start, c.end)).toSeq) / 1000)).toMap
    val selfByName = tr.spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(self).sum / passes.count(_._1).max(1) }
    if (trace) a.get("spans").foreach(p => write(p, Harness.json(tr.spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.start, "end_ms" -> s.end, "self_s" -> self(s))))))

    wl.finish(h, s"$work/check")
    mark("finish done")
    write(a("out"), Harness.json(Map(
      "workload" -> a("workload"), "seed" -> seed, "cores" -> cores, "data_dir" -> h.dataDir,
      "setup_s" -> setupS, "setup_reps_s" -> setups, "session_build_s" -> (sessionReady - b0) / 1000.0,
      "warmup_pass_s" -> warmupS, "run_s" -> median(passes.filterNot(_._1).map(_._2).toSeq),
      "passes" -> passes.map(p => Map("traced" -> p._1, "wall_s" -> p._2)),
      "ops" -> ops, "calibration_s" -> Map("before" -> calBefore, "after" -> calAfter),
      "steal_share" -> stealShare,
      "peak_rss_mb" -> peakRssMb, "live_heap_mb" -> liveHeap, "layers" -> layers, "facts" -> wl.facts,
      "oracles" -> h.oracles, "self_s_per_pass" -> selfByName)))
    spark.stop()
    mark("session stopped")
  }

  private def layerMetrics(h: Harness, wl: Workload, passes: Seq[(Boolean, Double)],
                           opSpan: Map[Int, (Double, Double)], cachedBlocks: Int,
                           setupBuild: Double, warm: Double): Map[String, Double] = {
    val tr = h.tr
    val nT = passes.count(_._1).max(1).toDouble
    def durs(name: String) = tr.spans.filter(_.name == name).map(_.dur).toSeq
    // listener counters of spans inside timed ops, merged per op
    val perOp = tr.spans.filter(_.op >= 0).groupBy(_.op).map { case (op, ss) =>
      op -> ss.flatMap(s => tr.bySpan.get(s.id)).toSeq }
    val all = perOp.values.flatten.toSeq
    def sum(f: Counters => Long) = all.map(f).sum.toDouble
    val jobSpans = perOp.map { case (op, cs) =>
      val (s, e) = opSpan(op)
      op -> union(cs.flatMap(_.jobSpans).map { case (a, b) => (a.max(s), b.min(e)) }
        .filter { case (a, b) => b > a }) / 1000
    }
    val opWall = opSpan.map { case (op, (s, e)) => op -> (e - s) / 1000 }
    val gap = opWall.map { case (op, w) => w - jobSpans.getOrElse(op, 0.0) }.sum
    val buildJobs = tr.spans.filter(s => s.op >= 0 && s.name.endsWith(".build"))
      .flatMap(s => tr.bySpan.get(s.id)).map(_.jobs).sum
    val prog = tr.progress.toSeq
    // the first pass is still warming up, so it is left out of the baseline
    val untracedPasses = passes.filterNot(_._1).map(_._2).drop(1)
    val tracedPasses = passes.filter(_._1).map(_._2)
    Map(
      "session.build_s" -> setupBuild, "session.warmup_s" -> warm,
      "sources.read_s" -> median(durs("sources.read")),
      "sources.slices_opened" -> h.counts("sources.slices_opened") / nT,
      "sources.prune_ratio" -> 0.0,
      "plans.plan_s" -> median(durs("plans.plan")),
      "plans.exchanges" -> h.counts("plans.exchanges") / nT,
      "operators.build_s" -> median(durs("operators.build")),
      "operators.eager_jobs" -> buildJobs / nT,
      "functions.kernel_s" -> median(durs("functions.kernel")),
      "VersionedTable.merge_s" -> median(durs("VersionedTable.merge")),
      "VersionedTable.update_s" -> median(durs("VersionedTable.update")),
      "VersionedTable.delete_s" -> median(durs("VersionedTable.delete")),
      "VersionedTable.stream_merge_s" -> median(durs("VersionedTable.stream_merge")),
      "VersionedTable.snapshot_s" -> median(durs("VersionedTable.snapshot")),
      "VersionedTable.files_written" -> h.counts("VersionedTable.files_written") / nT,
      "VersionedTable.bytes_written" -> h.counts("VersionedTable.bytes_written") / nT,
      "VersionedTable.rewrite_ratio" -> 0.0,
      "VersionedTable.live_files" -> median(h.samples.getOrElse("VersionedTable.live_files", Nil).toSeq),
      "streaming.batches" -> prog.size / nT,
      "streaming.start_s" -> median(durs("streaming.start")),
      "streaming.batch_s" -> median(prog.map(_.triggerMs / 1000.0)),
      "streaming.add_batch_s" -> median(prog.map(_.addBatchMs / 1000.0)),
      "streaming.overhead_s" -> median(prog.map(p => (p.triggerMs - p.addBatchMs) / 1000.0)),
      "spark.jobs" -> sum(_.jobs) / nT, "spark.stages" -> sum(_.stages) / nT,
      "spark.tasks" -> sum(_.tasks) / nT, "spark.failed_tasks" -> sum(_.failedTasks) / nT,
      "spark.job_s" -> jobSpans.values.sum / nT,
      "spark.task_s" -> sum(_.taskMs) / 1000 / nT, "spark.cpu_s" -> sum(_.cpuNs) / 1e9 / nT,
      "spark.gc_s" -> sum(_.gcMs) / 1000 / nT, "spark.task_deser_s" -> sum(_.deserMs) / 1000 / nT,
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite) / nT,
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead) / nT,
      "spark.spill_bytes" -> sum(_.spill) / nT,
      "spark.input_bytes" -> sum(_.inputBytes) / nT,
      "spark.input_records" -> sum(_.inputRecords) / nT,
      "spark.cached_blocks" -> cachedBlocks.toDouble,
      "driver.gap_s" -> gap / nT,
      "driver.gap_share" -> (if (opWall.nonEmpty) gap / opWall.values.sum else 0.0),
      "trace.overhead_ratio" ->
        (if (untracedPasses.nonEmpty) median(tracedPasses) / median(untracedPasses) else 0.0)
    ) ++ wl.layerMetrics(h)
  }

  /** Heap in use right after a full collection, in MB: what graft and
    * Spark still hold at the end of the timed phase (cached blocks,
    * broadcasts, plan and status state), independent of how far the
    * collector let the heap grow. */
  private def liveHeapMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** (all, steal) CPU time of the machine so far, in jiffies: the share
    * stolen by the hypervisor shows a run taken while the host is busy. */
  private def cpuJiffies(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (xs.take(8).sum, xs.lift(7).getOrElse(0L))
    } finally f.close()
  }

  /** Total length covered by a set of intervals. */
  private def union(iv: Seq[(Double, Double)]): Double =
    iv.sortBy(_._1).foldLeft((0.0, Double.MinValue)) { case ((tot, hi), (s, e)) =>
      if (e <= hi) (tot, hi) else (tot + e - math.max(s, hi), e)
    }._1

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), s.getBytes("UTF-8"))

  private def delete(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))
}
