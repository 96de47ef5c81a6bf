package graft.sources

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Source/sink format breadth (SURVEY §2.1): the same relation round-
  * trips through parquet, ORC, CSV (explicit schema — no inference at
  * scale), and JSON, preserving values. */
class SourceFormatsSpec extends SparkSpec {

  private lazy val nation = Tables.nation(spark, "/root/testdata/sf0.001")

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.select(col("n_nationkey").cast("int"), col("n_name"), col("n_regionkey").cast("int"))
      .orderBy("n_nationkey").collect().map(_.toSeq).toSeq

  test("parquet / orc / csv / json round-trips preserve the relation") {
    val dir = tempDir("graft-formats")
    val expected = sortedRows(nation)

    nation.write.mode("overwrite").parquet(s"$dir/p")
    assert(sortedRows(spark.read.parquet(s"$dir/p")) === expected)

    nation.write.mode("overwrite").orc(s"$dir/o")
    assert(sortedRows(spark.read.orc(s"$dir/o")) === expected)

    nation.write.mode("overwrite").option("header", "true").csv(s"$dir/c")
    val csvSchema = StructType(Seq(
      StructField("n_nationkey", IntegerType),
      StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    assert(sortedRows(spark.read.schema(csvSchema).option("header", "true").csv(s"$dir/c")) === expected)

    nation.write.mode("overwrite").json(s"$dir/j")
    val jsonSchema = csvSchema
    assert(sortedRows(spark.read.schema(jsonSchema).json(s"$dir/j")) === expected)
  }
}
