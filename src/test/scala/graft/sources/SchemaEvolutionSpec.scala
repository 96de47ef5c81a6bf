package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Long-lived pipeline robustness: a parquet dataset whose schema
  * GREW over time (a column added in later writes) must stay readable
  * as one table — old files surface the new column as null, filters
  * still push down, and writers that predate the column never block
  * readers. This is the standing contract for any 100 TB dataset that
  * accumulates daily partitions for years. */
class SchemaEvolutionSpec extends SparkSpec {

  import spark.implicits._

  test("mergeSchema unions v1 and v2 files; old rows null-fill the new column") {
    val dir = tempDir("schemaevo")
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(s"$dir/day=1")
    Seq((3L, "c", 0.9), (4L, "d", 0.1)).toDF("id", "name", "quality")
      .write.parquet(s"$dir/day=2")

    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq === Seq("day", "id", "name", "quality"))
    val rows = merged.orderBy("id")
      .select("id", "quality").as[(Long, Option[Double])].collect().toSeq
    assert(rows === Seq(1L -> None, 2L -> None, 3L -> Some(0.9), 4L -> Some(0.1)))

    // the new column is filterable across the mixed files (nulls drop)
    assert(merged.filter(col("quality") > 0.5).count() === 1)
    // and partition pruning still applies on the directory column
    val pruned = merged.filter(col("day") === 2)
    pruned.collect()
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("day"), scan)
  }
}
