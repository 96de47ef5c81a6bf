package graft.operators

import graft.{QuerySpec, Tables}
import graft.multimodal.MultimodalOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q52: the multimodal pipeline as a registered, oracle-checked query
  * (VERDICT r1 "what's missing" #4 — the multimodal path previously had
  * specs but no CORRECTNESS row).
  *
  * documents.text is treated as an opaque media payload (each char's
  * codepoint mod 256 = one byte — engine-independent, unlike UTF-8
  * encoding details), flowed through the REAL multimodal machinery:
  * MediaRow schema → per-partition MediaDecoder (decoder constructed once
  * per partition, the expensive-codec pattern) → 16-dim stripe-mean
  * features → featureTable → q28-style cosine top-k over a sampled
  * query set. Media bytes never shuffle: features are extracted
  * map-side and only (vec_id, 16 floats) flows into the join.
  *
  * The DuckDB twin models decode as IDENTITY, which is exact because
  * no corpus payload passes the kind-gated container sniffs (decode
  * attempts only the declared modality's container, and the synthetic
  * text payloads parse as none of them — MultimodalOpsSpec pins the
  * invariant per corpus row at sf0.001), so the WHOLE pipeline is
  * replicable in DuckDB SQL (list comprehensions over codepoints) and
  * the result is hash-matched, not rows-only. Cross-engine float note:
  * stripe means are computed in double and cast to float on both sides
  * (same IEEE round-to-nearest), similarities are Det.rate-rounded
  * before ranking.
  */
object MultimodalQueries {

  /** Shared q52/q141 media-feature frame: documents-as-media through
    * the real decode→features machinery, ending at (vec_id,
    * v: array<double>). Media bytes never shuffle — features extract
    * map-side. */
  private def mediaFeatures(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val media = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"))
      // spread the single-row-group scan before per-row byte work
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_id"))
      .as[(Long, String)]
      .map { case (id, text) =>
        val bytes = new Array[Byte](text.length)
        var i = 0
        while (i < text.length) { bytes(i) = (text.charAt(i).toInt & 0xff).toByte; i += 1 }
        MultimodalOps.MediaRow(id, Seq("image", "audio", "video")((id % 3).toInt),
          bytes, 64, 64, 16000, 1000L + id)
      }
    MultimodalOps.featureTable(s, media)
      .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
  }

  /** The matching oracle CTE (documents → 16 stripe-mean doubles),
    * ending at e(doc_id, emb). */
  private val mediaFeaturesSql =
    """e AS (
      |  SELECT doc_id,
      |    [CAST(list_avg([unicode(substr(text, i + 1, 1)) % 256
      |                    FOR i IN range(length(text)) IF i % 16 = s]) AS FLOAT)
      |     FOR s IN range(16)] AS emb
      |  FROM documents
      |)""".stripMargin

  private def q52(s: SparkSession, dir: String): DataFrame = {
    val feats = mediaFeatures(s, dir)
      .withColumn("nrm", VectorMath.norm("v"))
    val q = feats.filter(col("vec_id") % 100 === 0)
      .orderBy(col("vec_id")).limit(SimilarityQueries.EvalPanelCap)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = feats.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    c.join(broadcast(q), col("qid") =!= col("cid"))
      .withColumn("sim", Det.rate(VectorMath.cosine("qv", "cv", col("qn"), col("cn"))))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid")))
        .cast("long"))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("rn"), col("cid"), col("sim"))
      .orderBy(col("qid"), col("rn"))
  }

  private val q52Sql =
    s"""WITH $mediaFeaturesSql, nv AS (
      |  SELECT doc_id AS vec_id, emb::DOUBLE[] AS v,
      |         sqrt(list_dot_product(emb::DOUBLE[], emb::DOUBLE[])) AS nrm
      |  FROM e
      |), qp AS (
      |  SELECT vec_id FROM nv WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 8
      |), p AS (
      |  SELECT q.vec_id AS qid, c.vec_id AS cid,
      |         floor((CASE WHEN q.nrm * c.nrm = 0 THEN 0.0 ELSE list_dot_product(q.v, c.v) / (q.nrm * c.nrm) END) * 1e6 + 0.5) / 1e6 AS sim
      |  FROM nv q JOIN qp ON q.vec_id = qp.vec_id
      |  JOIN nv c ON q.vec_id <> c.vec_id
      |), r AS (
      |  SELECT qid, cid, sim,
      |         row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) AS rn
      |  FROM p
      |)
      |SELECT qid, rn, cid, sim FROM r WHERE rn <= 5 ORDER BY qid, rn""".stripMargin

  // ---------------------------------------------------------------- q141
  /** Perceptual media dedup via dHash — the multimodal twin of the text
    * dedup ladder (q24 exact bytes / q27 SimHash): two re-encodes of
    * the same image differ byte-wise (so q24-style md5 misses them) but
    * keep their luminance GRADIENTS, which is what dHash fingerprints —
    * bit i = (feature_i > feature_{i+1 mod 16}) over the 16 stripe
    * means, the standard difference-hash recipe on the engine's media
    * feature vector. Items sharing a 16-bit fingerprint form a
    * perceptual duplicate family; output mirrors q24's (fingerprint,
    * keep_id, dupes) report, families of ≥ 2 only.
    *
    * Exactness: the bits are pure COMPARISONS of the q52-proven
    * identical doubles — no new arithmetic anywhere, so no rounding
    * surface at all; the fingerprint packs via integer shifts.
    *
    * Scale: features extract map-side (media bytes never shuffle —
    * q52's path, shared builder); per item ONE 16-bit fingerprint
    * shuffles to a map-side-combined groupBy — q24's exact-dedup
    * envelope, 2 bytes of key per item instead of a digest. */
  private def q141(s: SparkSession, dir: String): DataFrame = {
    val bits = (0 until 16).map { i =>
      expr(s"IF(element_at(v, ${i + 1}) > element_at(v, ${(i + 1) % 16 + 1}), " +
        s"${1L << i}L, 0L)")
    }.reduce(_ + _)
    mediaFeatures(s, dir)
      .select(col("vec_id"), bits.as("dhash"))
      .groupBy(col("dhash"))
      .agg(min(col("vec_id")).as("keep_id"), count(lit(1)).as("dupes"))
      .filter(col("dupes") >= 2)
      .orderBy(col("keep_id"))
  }

  private val q141Sql = {
    val bits = (0 until 16).map(i =>
      s"(CASE WHEN emb[${i + 1}]::DOUBLE > emb[${(i + 1) % 16 + 1}]::DOUBLE " +
        s"THEN CAST(${1L << i} AS BIGINT) ELSE 0 END)").mkString(" + ")
    s"""WITH $mediaFeaturesSql, h AS (
       |  SELECT doc_id, $bits AS dhash FROM e
       |)
       |SELECT dhash, min(doc_id) AS keep_id, count(*) AS dupes
       |FROM h GROUP BY dhash HAVING count(*) >= 2 ORDER BY keep_id""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q52_multimodal_ann", Some(q52Sql), q52),
    QuerySpec("q141_media_dhash_dedup", Some(q141Sql), q141),
  )
}
