package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship query (SURVEY §7.4): the reference's "meta deck summary"
    * kernel (meta_llm_tables.py:8-76) over testdata sf0.001 —
    * scan → broadcast dim join → rule-cascade classification → WLD
    * conditional counts → share-of-total → sample_ok flag → games desc.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val seg =
      when(col("c_acctbal") < 0, "debt")
        .when(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 5000, "big_building")
        .when(col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY"), "industrial")
        .otherwise("other")
    operators.Share.of(
        Tables.orders(spark, dir)
          .join(broadcast(Tables.customer(spark, dir)), col("o_custkey") === col("c_custkey"))
          .select(seg.as("segment_class"),
            when(col("o_orderstatus") === "F", "win")
              .when(col("o_orderstatus") === "O", "loss")
              .otherwise("draw").as("result"))
          .groupBy(col("segment_class"))
          .agg(operators.Wld.counts(col("result")).head, operators.Wld.counts(col("result")).tail: _*)
          .withColumn("win_rate", operators.Wld.winRate),
        "games", "share")
      .withColumn("sample_ok", col("games") >= 20)
      .orderBy(col("games").desc, col("segment_class"))
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryCatalog.all.map(sp => sp.name -> sp.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    QueryCatalog.all.flatMap(sp => sp.oracle.map(sp.name -> _)).toMap
}

/** All registered query specs, grouped by operator family. */
object QueryCatalog {

  /** Resolve one spec by its registered name. Any program that runs a
    * query by name MUST go through this + [[QuerySpec.withConfs]] (or
    * [[Harness.timed]], which applies both the confs and the spec's AQE
    * flag) rather than the bare name→fn map: a spec's execution confs
    * (e.g. q157's object-agg sort-fallback threshold) are applied by
    * Verify/Bench, and a probe that skips them measures a different
    * plan than the recorded numbers. */
  def byName(name: String): QuerySpec =
    all.find(_.name == name).getOrElse(throw new NoSuchElementException(
      s"no registered query named '$name'"))
  def all: Seq[QuerySpec] =
    operators.RelationalQueries.specs ++
      operators.TextQueries.specs ++
      operators.DedupQueries.specs ++
      operators.SimilarityQueries.specs ++
      operators.EventQueries.specs ++
      operators.ExtendedQueries.specs ++
      operators.IvfQueries.specs ++
      operators.WindowSkewQueries.specs ++
      operators.ProfilingQueries.specs ++
      operators.TypedQueries.specs ++
      operators.MultimodalQueries.specs ++
      operators.CorpusQueries.specs ++
      operators.MiningQueries.specs ++
      operators.PipelineQueries.specs ++
      operators.BpeQueries.specs ++
      operators.SelectionQueries.specs ++
      operators.RetrievalQueries.specs ++
      operators.PqQueries.specs ++
      operators.ClassifierQueries.specs
}
