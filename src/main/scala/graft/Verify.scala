package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — dump (and emit
    // oracle entries for) just those, for fast single-query iteration
    val (sfDir, outDir) = (args(0), args(1))
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def keep(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // SPARK_GRAFT_SHUFFLE_PARTITIONS: reproduction lever for
      // harnesses that leave the Spark default (200) in place
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // SPARK_GRAFT_VERIFY_TOUCHSET=1: every bloom-pruned merge touch
      // scan re-derives the exact touch set and fails loudly on a
      // false negative (the versioned_merge_composite repro harness)
      .config("spark.graft.debug.verifyTouchSet",
        if (sys.env.get("SPARK_GRAFT_VERIFY_TOUCHSET").contains("1"))
          "true" else "false")
    // SPARK_GRAFT_NO_TUNING=1: skip SessionTuning — reproduction lever
    // for harnesses that build a default-conf session (checksummed
    // local FS, default listing parallelism, checkpoint checksums on)
    if (!sys.env.get("SPARK_GRAFT_NO_TUNING").contains("1"))
      graft.SessionTuning.sparkConf(cpus.toInt)
        .foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Isolate registry queries from each other: Spark's CacheManager
    // substitutes ANY persisted fragment into later plans that
    // canonically match (the PlanInvariantsSpec hazard class), so a
    // frame one query persisted and never unpersisted can silently
    // rewrite another query's plan mid-run. The correctness gate must
    // evaluate each query as if it ran alone — drop every cached
    // fragment between queries. SPARK_GRAFT_VERIFY_NO_CLEAR=1 disables
    // this (reproduction runs of the pre-r13 shared-cache behavior).
    val clearBetween = !sys.env.get("SPARK_GRAFT_VERIFY_NO_CLEAR")
      .contains("1")
    // SPARK_GRAFT_VERIFY_SORTED=1: run queries in NAME order instead of
    // registry Map order — reproduction lever for harnesses that sort
    // (cross-query interference is order-dependent)
    val ordered =
      if (sys.env.get("SPARK_GRAFT_VERIFY_SORTED").contains("1"))
        SparkEntry.queries.toSeq.sortBy(_._1)
      else SparkEntry.queries.toSeq
    ordered.filter(kv => keep(kv._1)).foreach { case (name, fn) =>
      // a query that throws must leave NO result behind: a stale dump
      // from an earlier run into the same outDir would pass the check
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"$outDir/$name"))
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        // first line only — a full AnalysisException message is a
        // multi-line plan dump that buries the per-query signal
        val firstLine = Option(e.getMessage).getOrElse(e.toString)
          .linesIterator.take(1).mkString
        System.err.println(s"[verify] $name failed: $firstLine")
      }
      if (clearBetween) spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => keep(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
