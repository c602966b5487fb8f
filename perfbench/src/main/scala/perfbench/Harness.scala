package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

/** One timed operation. `root` names the layer span the whole call is
  * charged to (e.g. `sources.read`, `VersionedTable.merge`); `kind`
  * is `read`, `write` or `op`. `run` gets the invocation number and
  * returns what the output check compares (an output directory or a
  * digest). */
final case class Op(name: String, kind: String, root: String, run: Int => Seq[Any])

trait Workload {
  /** Generate inputs (and base tables) under `dir`; called once per setup repetition. */
  def setup(h: Harness, dir: String): Unit
  /** The ops of pass `i` (the workload's unit of work). */
  def pass(h: Harness, i: Int): Seq[Op]
  /** Untimed, after the timed phase: anything the DuckDB check needs
    * beyond the ops' own outputs (goes into `facts`). */
  def finish(h: Harness, outDir: String): Unit = ()
  /** Workload facts for the checker and the report (sizes, logs). */
  def facts: Map[String, Any]
  /** Hooks around each timed op, outside its timed region. */
  def beforeOp(h: Harness, op: Op): Unit = ()
  def afterOp(h: Harness, op: Op, ok: Boolean, result: Seq[Any]): Unit = ()
  /** Per-layer metrics only this workload can measure. */
  def layerMetrics(h: Harness): Map[String, Double] = Map.empty
}

final class Harness(val spark: SparkSession, val seed: Long, val tr: Tracer) {
  var dataDir: String = ""
  /** Counters measured around calls during traced passes. */
  val counts = mutable.HashMap[String, Double]().withDefaultValue(0.0)
  val samples = mutable.HashMap[String, mutable.ArrayBuffer[Double]]()
  def count(k: String, v: Double): Unit = if (tr.enabled) counts(k) += v
  def sample(k: String, v: Double): Unit =
    if (tr.enabled) samples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v

  /** Force the physical plan (traced: timed as `plans.plan`, Exchange
    * nodes counted), then run the action. */
  def act[T](df: DataFrame)(action: DataFrame => T): T = {
    if (tr.enabled) {
      val plan = tr.span("plans.plan")(df.queryExecution.executedPlan)
      count("plans.exchanges", Harness.exchanges(plan))
    }
    tr.span("action")(action(df))
  }

  /** Where each invocation's output is materialized for the check. */
  var outDir: String = ""
  val oracles = mutable.LinkedHashMap[String, String]()

  /** The op's action: materialize its output as parquet (what a
    * pipeline stage does with a gold table), one directory per
    * invocation so the DuckDB check sees every result. */
  def result(name: String, df: DataFrame, oracle: String, invocation: Int): String = {
    oracles(name) = oracle
    val dir = s"$outDir/$name-$invocation"
    act(df)(_.write.mode("overwrite").parquet(dir))
    dir
  }

  /** A registry query run through `SparkEntry.queries`, checked
    * against its `SparkEntry.oracleSql`. */
  def registryOp(name: String, root: String = "op", build: String = "operators.build"): Op =
    Op(name, "op", root, id => Seq(result(name,
      tr.span(build)(graft.SparkEntry.queries(name)(spark, dataDir)),
      graft.SparkEntry.oracleSql(name), id)))
}

object Harness {
  def exchanges(p: SparkPlan): Int = {
    val root = p match { case a: AdaptiveSparkPlanExec => a.executedPlan; case x => x }
    root.collectWithSubqueries { case e: Exchange => e }.size
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Minimal JSON encoder for the result file. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
      case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => json(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case a: Array[_] => json(a.toSeq)
    case other => json(other.toString)
  }
}
