package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val wanted = rest.toSet // optional extra args: dev-only query filter
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    QueryCatalog.all
      .filter(sp => wanted.isEmpty || wanted.contains(sp.name))
      .foreach { sp =>
      // per-spec execution confs (QuerySpec.confs) scope around the
      // run and restore after — results never depend on them
      try sp.withConfs(spark) {
        sp.fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/${sp.name}")
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${sp.name} failed: ${e.getMessage}")
      }
      // queries that persist intermediates (IVF centroids, LSH shingle
      // tables) must not stack cached blocks across a 51-query session
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
