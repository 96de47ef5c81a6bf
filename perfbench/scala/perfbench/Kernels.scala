package perfbench

import org.apache.spark.sql.SparkSession

/** One small SQL query per `graft_*` function registered by
  * `graft.plans.GraftExtensions`, each over the same generated tables, so
  * the traced run can time every native kernel on its own. Token and
  * word inputs are replicated threefold so the kernel, not the job floor,
  * carries most of each query's time. */
object Kernels {

  private val pieces: String =
    (('a' to 'z').map(c => s"'$c', 100L") ++
      Seq("the", "data", "spark", "query", "join", "scan").map(w => s"'$w', 10L"))
      .mkString("map(", ", ", ")")

  val queries: Seq[(String, String)] = Seq(
    "graft_adj_pairs" -> "SELECT sum(size(graft_adj_pairs(t))) FROM pb_toks",
    "graft_cell_dups" ->
      "SELECT count(r) FROM (SELECT label, graft_cell_dups(vec_id, v, nrm, CAST(0.4 AS DOUBLE)) AS r FROM pb_vecs GROUP BY label)",
    "graft_cell_knn" ->
      "SELECT count(r) FROM (SELECT label, graft_cell_knn(vec_id, v, nrm, 10) AS r FROM pb_vecs GROUP BY label)",
    "graft_cell_top_pairs" ->
      "SELECT count(r) FROM (SELECT label, graft_cell_top_pairs(vec_id, v, nrm, CAST(0.3 AS DOUBLE), 20) AS r FROM pb_vecs GROUP BY label)",
    "graft_dot" -> "SELECT sum(graft_dot(a.v, b.v)) FROM pb_vecs a JOIN pb_vecs b ON a.label = b.label",
    "graft_gram_md5s" -> "SELECT sum(size(graft_gram_md5s(t, 10, 1))) FROM pb_toks",
    "graft_gram_structs" -> "SELECT sum(size(graft_gram_structs(t, 3))) FROM pb_toks",
    "graft_grams" -> "SELECT sum(size(graft_grams(t, 3))) FROM pb_toks",
    "graft_lev" ->
      "SELECT sum(graft_lev(a.p_name, b.p_name, 8)) FROM part a JOIN part b ON a.p_partkey % 40 = b.p_partkey % 40 AND a.p_partkey < b.p_partkey",
    "graft_ln_small" -> "SELECT sum(graft_ln_small(CAST(l_linenumber AS BIGINT), 7L)) FROM lineitem",
    "graft_log2q20" -> "SELECT sum(graft_log2q20(l_orderkey + 1, 1L)) FROM lineitem",
    "graft_lsh_codes" ->
      "SELECT sum(aggregate(graft_lsh_codes(v, 1000, 16, 12, 64), 0L, (a, x) -> a + x)) FROM pb_vecs3",
    "graft_md5_keyed" -> "SELECT sum(size(graft_md5_keyed(w, 16))) FROM pb_words",
    "graft_minhash_hex" ->
      "SELECT count(m) FROM (SELECT doc_id, graft_minhash_hex(w, 16) AS m FROM pb_words GROUP BY doc_id)",
    "graft_outer_moments" ->
      "SELECT count(m) FROM (SELECT graft_outer_moments(transform(v, x -> CAST(x * 1000 AS BIGINT)), 64) AS m FROM pb_vecs3)",
    "graft_rp_moments" -> "SELECT count(graft_rp_moments(v, 16, 64, 64)) FROM pb_vecs3",
    "graft_simhash" ->
      "SELECT count(h) FROM (SELECT doc_id, graft_simhash(w, 60) AS h FROM pb_words GROUP BY doc_id)",
    "graft_skip_pairs" -> "SELECT sum(size(graft_skip_pairs(t, 3))) FROM pb_toks",
    "graft_topk" ->
      "SELECT count(k) FROM (SELECT l_suppkey, graft_topk(l_orderkey, 5) AS k FROM lineitem GROUP BY l_suppkey)",
    "graft_uni_viterbi" -> s"SELECT sum(graft_uni_viterbi(w, $pieces, 4)) FROM pb_words",
  )

  /** Register the views the queries read; tables must already be views. */
  def register(spark: SparkSession): Unit = {
    spark.sql("SELECT doc_id, split(text, ' ') AS t FROM documents CROSS JOIN range(3)")
      .createOrReplaceTempView("pb_toks")
    spark.sql("SELECT doc_id * 3 + id AS doc_id, explode(split(text, ' ')) AS w FROM documents CROSS JOIN range(3)")
      .createOrReplaceTempView("pb_words")
    spark.sql(
      """SELECT vec_id, label, v, sqrt(aggregate(v, 0D, (a, x) -> a + x * x)) AS nrm
        |FROM (SELECT vec_id, label, transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings)""".stripMargin)
      .createOrReplaceTempView("pb_vecs")
    spark.sql("SELECT * FROM pb_vecs CROSS JOIN range(3)").createOrReplaceTempView("pb_vecs3")
  }

  /** Best-of-2 wall ms per kernel query (the first run also compiles). */
  def time(spark: SparkSession): Map[String, Double] = {
    def run(sql: String): Double = {
      val t0 = System.nanoTime()
      spark.sql(sql).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e6
    }
    queries.map { case (k, sql) =>
      s"functions.${k}_ms" -> math.min(run(sql), run(sql))
    }.toMap
  }
}
