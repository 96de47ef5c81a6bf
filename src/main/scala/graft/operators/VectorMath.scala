package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over array<double> columns, on the native codegen'd
  * `graft_dot` expression (graft.functions.DotProductD). The session
  * must have `graft.plans.GraftExtensions` installed. */
object VectorMath {

  def dot(a: String, b: String): Column = expr(s"graft_dot($a, $b)")

  def norm(v: String): Column = sqrt(dot(v, v))

  /** Cosine similarity with the zero-norm contract: when either side
    * has zero norm (an all-zero embedding in the corpus, or a derived
    * centroid whose members cancel) the ratio is 0/0 — undefined.
    * Degrade deterministically to 0.0 ("similar to nothing" — the
    * convention that stays safe under `sim >= t` gates and DESC top-k
    * ordering, where a NULL would sort FIRST) instead of Spark's ANSI
    * DIVIDE_BY_ZERO error / DuckDB's IEEE NaN. Surfaced by the 100×
    * replica sweep's degenerate-denominator audit. */
  def cosine(a: String, b: String, na: Column, nb: Column): Column =
    when(na * nb === lit(0.0), lit(0.0)).otherwise(dot(a, b) / (na * nb))

  /** Oracle-side (DuckDB) twin of [[cosine]] — same zero-norm contract,
    * same expression shape, for the hand-written oracle texts. */
  def cosineSql(a: String, b: String, na: String, nb: String): String =
    s"CASE WHEN $na * $nb = 0 THEN 0.0 ELSE list_dot_product($a, $b) / ($na * $nb) END"
}
