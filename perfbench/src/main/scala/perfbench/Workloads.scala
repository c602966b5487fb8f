package perfbench

import org.apache.spark.sql.functions._

/** LLM-corpus curation over a seeded corpus with injected
  * near-duplicates: bronze CSV/JSON ingest of the documents, MinHash
  * signature and dot-product kernels, the exact set-similarity join,
  * the LSH recall audit, connected-component dedup, semantic dedup and
  * IVF search. Touches no versioned table and no stream. */
final class CorpusDedup(nDocs: Long, k: Int, nVecs: Long, dupRate: Double) extends Workload {
  private val ingest = Seq("ingest_csv", "ingest_json")
  private val registry = Seq("dedup_lsh_recall", "similarity_join_exact", "dedup_clusters",
    "semdedup_keep", "ann_ivf")

  def setup(h: Harness, dir: String): Unit = {
    val g = new Gen(h.spark, h.seed)
    g.writeParquet(Map("documents" -> g.documents(nDocs, dupRate, k),
      "embeddings" -> g.embeddings(nVecs, dupRate)), dir)
  }

  private def signatures(h: Harness) = h.spark.read.parquet(s"${h.dataDir}/documents.parquet")
    .select(col("doc_id"),
      graft.operators.Dedup.minhashSignature(graft.operators.Dedup.shingles(col("text"), 3), 64).as("sig"))

  private def dots(h: Harness) = {
    val e = h.spark.read.parquet(s"${h.dataDir}/embeddings.parquet")
    e.filter(col("vec_id") < 8).select(col("vec_id").as("q_id"), col("embedding").as("q"))
      .crossJoin(e.select("vec_id", "embedding"))
      .select(col("q_id"), col("vec_id"),
        graft.functions.VectorFunctions.dot(col("q"), col("embedding")).as("score"))
  }

  def pass(h: Harness, i: Int): Seq[Op] =
    ingest.map(h.registryOp(_, root = "sources.read", build = "sources.build")) ++
      Seq(Op("minhash_signatures", "op", "functions.kernel",
        id => Seq(h.result("minhash_signatures", signatures(h), minhashOracle, id))),
      Op("dot_products", "op", "functions.kernel",
        id => Seq(h.result("dot_products", dots(h), dotOracle, id)))) ++
      registry.map(h.registryOp(_))

  /** DuckDB twins of the two kernel ops: the MinHash mix over sha60
    * shingle hashes with graft's permutation constants, and the
    * sequential double-fold dot product. */
  private lazy val minhashOracle: String = {
    val perms = graft.functions.expressions.MinHashConstants.PermConsts.take(64)
      .zipWithIndex.map { case (c, i) => s"($i, $c)" }.mkString(", ")
    val sha60 = graft.TextOracleSql.Sha60.format("s")
    s"""WITH perms(i, c) AS (VALUES $perms),
      docs AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      sh AS (SELECT doc_id, CASE WHEN len(toks) >= 3
          THEN list_transform(range(len(toks) - 2), i -> array_to_string(toks[i+1:i+3], ' '))
          ELSE [array_to_string(toks, ' ')] END AS shingles FROM docs),
      shx AS (SELECT doc_id, unnest(list_distinct(shingles)) AS s FROM sh),
      hs AS (SELECT doc_id, $sha60 AS h FROM shx),
      minv AS (SELECT doc_id, p.i,
          min(xor((xor(h, p.c) & 2147483647) * 2654435761,
                  ((xor(h, p.c) & 2147483647) * 2654435761) >> 31)) AS m
        FROM hs CROSS JOIN perms p GROUP BY 1, 2)
      SELECT doc_id, list(m ORDER BY i) AS sig FROM minv GROUP BY 1"""
  }
  private val dotOracle =
    """WITH e AS (SELECT vec_id, cast(embedding AS double[]) AS emb FROM embeddings)
      SELECT q.vec_id AS q_id, c.vec_id, list_dot_product(q.emb, c.emb) AS score
      FROM e q CROSS JOIN e c WHERE q.vec_id < 8"""

  def facts: Map[String, Any] = Map("base_docs" -> nDocs, "replicas" -> k,
    "documents_rows" -> nDocs * k, "embeddings_rows" -> nVecs, "near_dup_rate" -> dupRate)
}
