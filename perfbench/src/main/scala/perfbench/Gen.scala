package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a pure function of
  * (seed, table tag, row id), built from `xxhash64`, so the same seed
  * gives byte-for-byte the same rows at any parallelism, and graft only
  * ever sees the parquet/JSON files written here. Shapes and types
  * follow the `orders`, `documents` and `embeddings` tables that
  * graft's registry queries read. */
final class Gen(spark: SparkSession, seed: Long) {

  private def h(parts: Column*): Column = xxhash64(lit(seed) +: parts: _*)
  /** uniform integer in [0, n) for row `id` under `tag` */
  private def ri(tag: String, n: Long, id: Column = col("id")): Column =
    pmod(h(lit(tag), id), lit(n))
  /** uniform double in [0, 1) */
  private def u(tag: String, id: Column = col("id")): Column =
    ri(tag, 1000000007L, id).cast("double") / 1000000007.0
  private def pick(tag: String, xs: Seq[String], id: Column = col("id")): Column =
    element_at(array(xs.map(lit): _*), (ri(tag, xs.size, id) + 1).cast("int"))
  /** TIMESTAMP_NTZ, a whole day in [fromIso, fromIso + days) (the
    * session time zone is pinned to UTC). */
  private def ntz(tag: String, fromIso: String, days: Int, id: Column): Column = {
    val base = java.time.LocalDate.parse(fromIso).toEpochDay * 86400L
    timestamp_seconds(lit(base) + ri(tag, days, id) * 86400L).cast("timestamp_ntz")
  }
  private def rows(n: Long): DataFrame = spark.range(0, n, 1, 8).toDF()

  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val vocab: Seq[String] = ("a the key agg row scan slow fast table value part hash " +
    "merge batch spark window line sort join small big data column query " +
    "order group filter stream customer vector index shard token corpus " +
    "train model learn cache plan stage task shuffle spill commit log " +
    "version snapshot file bloom prune range point lake silver gold bronze " +
    "ingest clean dedup near exact").split(" ").toSeq

  /** Corpus of `nDocs` base documents with `dupRate` of them injected
    * as near-duplicates (a copy of an earlier document with ~5% of its
    * tokens replaced), then replicated `k` times with the per-replica
    * token prefix graft's scale probe uses (`replicateDocs`): replicas
    * keep the internal near-dup structure but are signature-disjoint. */
  def documents(nDocs: Long, dupRate: Double, k: Int): DataFrame = {
    val voc = array(vocab.map(lit): _*)
    val isDup = col("id") > 10 && u("d_dup") < dupRate
    val src = when(isDup, greatest(lit(0L), col("id") - 1 - ri("d_off", 10))).otherwise(col("id"))
    val len = (ri("d_len", 60, src) + 8).cast("int")
    val tok = (i: Column) =>
      when(isDup && pmod(h(lit("d_mut"), col("id"), i), lit(100)) < 5,
        element_at(voc, (pmod(h(lit("d_mt"), col("id"), i), lit(vocab.size.toLong)) + 1).cast("int")))
        .otherwise(element_at(voc, (pmod(h(lit("d_tok"), src, i), lit(vocab.size.toLong)) + 1).cast("int")))
    val base = rows(nDocs).select(col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(0), len - 1), tok)).as("text"),
      pick("d_lang", Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), ri("d_src", 20)).as("source"))
    (0 until k).map { i =>
      base.withColumn("doc_id", col("doc_id") + i * 100000000L)
        .withColumn("text",
          if (k == 1) col("text") else regexp_replace(col("text"), "(^| )", s"$$1r${i}_"))
    }.reduce(_ unionByName _)
      .withColumn("n_chars", length(col("text")).cast("long"))
  }

  /** 64-d float embeddings around 10 seeded centroids; `dupRate` of
    * the vectors are near-copies of a nearby earlier vector. */
  def embeddings(n: Long, dupRate: Double): DataFrame = {
    val dim = 64
    val isDup = col("id") > 10 && u("v_dup") < dupRate
    val src = when(isDup, col("id") - 1 - ri("v_off", 10)).otherwise(col("id"))
    val label = ri("v_lab", 10, src)
    val comp = (j: Column) =>
      (pmod(h(lit("v_c"), label, j), lit(1000L)) / 1000.0 - 0.5) * 0.5 +
        (pmod(h(lit("v_n"), src, j), lit(1000L)) / 1000.0 - 0.5) * 0.3 +
        when(isDup, (pmod(h(lit("v_j"), col("id"), j), lit(1000L)) / 1000.0 - 0.5) * 0.02)
          .otherwise(lit(0.0))
    rows(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j => comp(j).cast("float")).as("embedding"),
      label.cast("int").as("label"))
  }

  /** Rows of the lakehouse orders table for the keys in column
    * `o_orderkey`; content is a pure function of (key, tag), so a key
    * drawn twice under one tag yields the same row. */
  def orderRows(keys: DataFrame, tag: String, seq: Column, nCust: Long): DataFrame = {
    val k = col("o_orderkey")
    keys.select(k,
      ri(s"$tag/c", nCust, k).as("o_custkey"),
      pick(s"$tag/s", Seq("F", "O", "P"), k).as("o_orderstatus"),
      round(u(s"$tag/p", k) * 500000.0, 2).as("o_totalprice"),
      date_format(ntz(s"$tag/d", "1995-01-01", 2404, k), "yyyy-MM-dd")
        .as("o_orderdate"),
      pick(s"$tag/o", priorities, k).as("o_orderpriority"),
      seq.as("seq"))
  }

  /** `n` change rows for round tag `tag`: row j < nUpd picks an
    * existing key (even j from the most recent tenth of `nKeys`, odd j
    * uniform), rows from nUpd on either delete such keys (`nDel` of
    * them) or insert fresh keys from `insertBase`. One row per key:
    * the lowest j wins. Column `op` is U, D or I. */
  def changeKeys(tag: String, nKeys: Long, nUpd: Int, nDel: Int, nIns: Int,
                 insertBase: Long): DataFrame = {
    val j = col("id")
    val existing = when(j % 2 === 0, lit(nKeys - 1) - ri(s"$tag/rk", nKeys / 10))
      .otherwise(ri(s"$tag/uk", nKeys))
    val firstIns = nUpd + nDel
    rows(firstIns + nIns.toLong).select(j,
      when(j < firstIns, existing).otherwise(lit(insertBase) + j - firstIns).as("o_orderkey"),
      when(j < nUpd, "U").when(j < firstIns, "D").otherwise("I").as("op"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("o_orderkey").orderBy("id")))
      .filter(col("rn") === 1).drop("rn", "id")
  }

  def writeParquet(tables: Map[String, DataFrame], dir: String): Unit =
    tables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
}
