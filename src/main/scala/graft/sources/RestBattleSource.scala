package graft.sources

import graft.battle.BattleSchema
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType, StructField, StructType}

/** The HTTP boundary of the REST sources (cr_client.py:24-46). One
  * method: GET a path (relative to the API base), return the raw JSON
  * body. Implementations own transport concerns — auth header, the
  * reference's 10 s timeout, retries. The sandbox has no egress, so the
  * shipped implementation is [[FixtureRestClient]]; a production client
  * is a ~10-line wrapper over any HTTP library behind this same trait
  * (exactly the QuestionClassifier pattern — the nondeterministic
  * networked edge is isolated, everything downstream is testable). */
trait RestClient extends Serializable {
  /** @param path API path, e.g. "/players/%23ABC/battlelog"
    * @return raw JSON response body
    * @throws RuntimeException on non-200 (cr_client.py:41-44) */
  def get(path: String): String
}

/** Canned-response client: serves fixture JSON from an in-memory map,
  * throwing on unknown paths like the reference's non-200 branch. */
final class FixtureRestClient(fixtures: Map[String, String]) extends RestClient {
  override def get(path: String): String =
    fixtures.getOrElse(path,
      throw new RuntimeException(s"Clash Royale API error 404: $path"))
}

/** Production client over the JDK's HttpURLConnection — zero extra
  * dependencies, serializable (per-partition construction ships only
  * the base URL + token strings to executors). Mirrors
  * cr_client.py:24-46: bearer auth header, 10 s connect/read timeouts,
  * non-200 → RuntimeException carrying the status. The sandbox has no
  * egress, so UrlRestClientSpec exercises the full transport against a
  * local JDK HttpServer instead. */
final class UrlRestClient(
    baseUrl: String,
    token: String,
    timeoutMs: Int = 10000) extends RestClient {
  override def get(path: String): String = {
    val conn = new java.net.URL(baseUrl + path).openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(timeoutMs)
    conn.setReadTimeout(timeoutMs)
    conn.setRequestProperty("Authorization", s"Bearer $token")
    val status = conn.getResponseCode
    val stream = if (status == 200) conn.getInputStream else conn.getErrorStream
    val body =
      if (stream == null) ""
      else try scala.io.Source.fromInputStream(stream, "UTF-8").mkString
      finally stream.close()
    if (status != 200)
      throw new RuntimeException(s"Clash Royale API error $status: $body")
    body
  }
}

/** REST battle-log / leaderboard sources (battles.py:20-44,
  * players.py:6-23) re-expressed Spark-first.
  *
  * Shape notes:
  *  - Tag handling mirrors battles.py:6-17,33-35: trim + uppercase +
  *    ensure leading '#', then '%23'-encode the FIRST '#' only.
  *  - items-unwrap mirrors battles.py:38-44 / players.py:13-23: the
  *    endpoint may return a bare JSON array or an {"items": [...]}
  *    wrapper; both normalize to the same rows.
  *  - The fetch is DISTRIBUTED: the distinct tags are parallelized
  *    straight into at most `defaultParallelism` slices (no shuffle),
  *    one client per partition (the per-partition-expensive-resource
  *    pattern), bodies parsed with an explicit schema via from_json —
  *    never schema inference. At 100 TB-scale ingest the fetch
  *    parallelism is the partition count and the driver never holds
  *    response bodies.
  */
object RestBattleSource {

  /** leaderboardId 170000005 = global ranked-1v1 ladder
    * (cr_client.py:48). */
  val LeaderboardGlobalId: Long = 170000005L

  /** battles.py:6-17. */
  def normalizeTag(tag: String): String = {
    val cleaned = tag.trim.toUpperCase
    if (cleaned.startsWith("#")) cleaned else "#" + cleaned
  }

  /** battles.py:33-35 — encode only the first '#'. */
  def encodeTag(tag: String): String =
    normalizeTag(tag).replaceFirst("#", "%23")

  def battlelogPath(tag: String): String =
    s"/players/${encodeTag(tag)}/battlelog"

  def leaderboardPath(limit: Int): String =
    s"/leaderboard/$LeaderboardGlobalId?limit=$limit"

  /** battles.py:38-44: bare-array responses become {"items": [...]} so
    * one schema parses both shapes. */
  private def unwrapItems(body: String): String = {
    val t = body.trim
    if (t.startsWith("[")) s"""{"items": $t}""" else t
  }

  /** Battle logs for a set of player tags → raw battle rows
    * (BattleSchema.raw columns + the fetching player_tag), ready for
    * Normalize/UserWorkflow. */
  def fetchBattles(spark: SparkSession, client: RestClient, tags: Seq[String]): DataFrame = {
    import spark.implicits._
    val wrapSchema = StructType(Seq(
      StructField("items", ArrayType(BattleSchema.raw))))
    val distinctTags = tags.map(normalizeTag).distinct
    val slices = math.max(1, math.min(distinctTags.size, spark.sparkContext.defaultParallelism))
    val bodies = spark.createDataset(spark.sparkContext.parallelize(distinctTags, slices))
      .mapPartitions { it =>
        it.map(tag => (tag, unwrapItems(client.get(battlelogPath(tag)))))
      }
      .toDF("player_tag", "body")
    bodies
      .select(col("player_tag"),
        explode(from_json(col("body"), wrapSchema).getField("items")).as("battle"))
      .select(col("player_tag"), col("battle.*"))
  }

  private val leaderboardEntry: StructType = StructType(Seq(
    StructField("tag", StringType),
    StructField("name", StringType),
    StructField("rank", LongType),
    StructField("eloRating", LongType)))

  /** Global leaderboard → player rows (players.py:6-23; the reference
    * takes data["items"] and warns on empty — here empty parses to zero
    * rows, the relational equivalent). */
  def fetchTopPlayers(spark: SparkSession, client: RestClient, limit: Int): DataFrame = {
    import spark.implicits._
    val wrapSchema = StructType(Seq(
      StructField("items", ArrayType(leaderboardEntry))))
    val body = unwrapItems(client.get(leaderboardPath(limit)))
    spark.createDataset(Seq(body)).toDF("body")
      .select(explode(from_json(col("body"), wrapSchema).getField("items")).as("p"))
      .select(col("p.tag"), col("p.name"), col("p.rank"), col("p.eloRating"))
      .limit(limit)
  }
}
