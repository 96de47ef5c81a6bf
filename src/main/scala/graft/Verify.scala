package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val wanted = rest.toSet // optional extra args: dev-only query filter
    val spark = Harness.env.session("graft-verify")
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
        System.err.println(s"[verify] ${sp.name} failed: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
      }
      // queries that persist intermediates (IVF centroids, LSH shingle
      // tables) must not stack cached blocks across the catalog's run
      spark.catalog.clearCache()
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
