package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The persisted-IVF scale claim, proven: vectors written partitionBy
  * (cell), probes become partition-pruned scans (PartitionFilters on
  * cell, only probed directories read), and pruned search returns
  * exactly what an unpruned search over the same index returns. */
class IvfIndexPruningSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def queries = Tables.embeddings(spark, dir)
    .select(col("vec_id"), expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("v"))
    .withColumn("nrm", VectorMath.norm("v"))
    .filter(col("vec_id") % 250 === 0)
    .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))

  test("writeIndex clusters by cell; searchIndex prunes partitions and matches unpruned") {
    val idx = tempDir("ivfidx")
    IvfQueries.writeIndex(spark, dir, idx)

    val cellDirs = new java.io.File(s"$idx/vectors").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell=")).map(_.getName).sorted
    assert(cellDirs.length === 16, s"expected 16 cell partitions, got ${cellDirs.toSeq}")

    val result = IvfQueries.searchIndex(spark, idx, queries)
    val rows = result.collect()
    assert(rows.nonEmpty)

    // partition pruning visible in the executed plan
    val plan = result.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), s"no partition filter in:\n$plan")

    // pruned search == unpruned search over the same persisted index
    val unpruned = {
      val centroids = spark.read.parquet(s"$idx/centroids")
      val probes = queries.crossJoin(broadcast(centroids))
        .withColumn("csim", Det.rate(VectorMath.dot("qv", "cv") / (col("qn") * col("cnrm"))))
        .withColumn("prk", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("csim").desc, col("cell"))))
        .filter(col("prk") <= 4)
        .select(col("qid"), col("qv"), col("qn"), col("cell"))
      val vectors = spark.read.parquet(s"$idx/vectors") // NO cell filter
        .select(col("vec_id").as("cid"), col("v").as("cv2"), col("nrm").as("cn"), col("cell"))
      probes.join(vectors, Seq("cell"))
        .filter(col("qid") =!= col("cid"))
        .withColumn("sim", Det.rate(VectorMath.dot("qv", "cv2") / (col("qn") * col("cn"))))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
            .orderBy(col("sim").desc, col("cid"))).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("qid"), col("rn"), col("cid"), col("sim"), col("cell").cast("long").as("cell"))
        .orderBy(col("qid"), col("rn"))
    }
    assert(rows.map(_.toSeq).toSeq === unpruned.collect().map(_.toSeq).toSeq)
  }
}
