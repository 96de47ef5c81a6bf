package graft

import graft.operators.{ClassifierQueries, SelectionQueries}
import graft.streaming.{CentroidStream, GramStream, PackingStream, QualityStream, SpanStream}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Dev scratch: drive the streaming layer at replica scale (SCALE.md's
  * streaming appendix). Shards the 10× documents/embeddings replicas
  * into a multi-file source dir, then runs three representative
  * Structured Streaming jobs as rate-limited file-source streams
  * (maxFilesPerTrigger) and reports per-stream throughput, micro-batch
  * count, and state-store size from StreamingQueryProgress:
  *
  *  - QualityStream.score — STATELESS scoring (frozen LM + NB + entropy
  *    gate): the no-state-store baseline, throughput = scan + scalar
  *    ladder work.
  *  - GramStream.directions — single-key flatMapGroupsWithState with a
  *    d²-long additive state (the heaviest per-row state update).
  *  - PackingStream.assignPacks — per-bucket Long state (the smallest
  *    possible state, shuffle-by-bucket per batch).
  *  - SpanStream.dupWindows — per-window-hash flatMapGroupsWithState:
  *    the LARGEST state of the 17 streams (one row per first-seen
  *    hash — positions until established, then a constant tombstone).
  *    The standing corpus index is the base sf0.1 corpus (bounded
  *    broadcast, the lambda split's "yesterday's corpus"); duplication
  *    pressure comes from the replica's own within-shard dup families.
  *  - CentroidStream.updates — K×(count + d sums) state, constant in
  *    stream length; reference centroids are the first K streamed
  *    vectors (deterministic; the state/throughput measurement does
  *    not depend on centroid quality).
  *
  * The session shape comes from the env contract ([[Harness.env]]); the
  * replica runs in SCALE.md used SPARK_GRAFT_CPUS=32 SPARK_GRAFT_PARTS=32.
  */
object ScratchStream10x {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/repo/tmp_sf1"
    val shards = if (args.length > 1) args(1).toInt else 16
    val filesPerTrigger = if (args.length > 2) args(2).toInt else 2
    // arg 4 = state-store provider: "rocksdb" (the production disk-backed
    // store — the round-10 100× protocol) or default HDFS-backed memory
    val rocks = args.length > 3 && args(3) == "rocksdb"
    // arg 5 = BASE corpus dir for the SpanStream standing index — must
    // match the corpus the replica in `dir` was scaled from (previously
    // hardcoded to sf0.1, which silently mixed corpora for other dirs)
    val baseDir = if (args.length > 4) args(4) else "/root/testdata/sf0.1"
    val spark = Harness.env.session("graft-stream10x")
    if (rocks) spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._

    println(s"STREAMCFG dir=$dir baseDir=$baseDir shards=$shards " +
      s"filesPerTrigger=$filesPerTrigger " +
      s"stateStore=${if (rocks) "rocksdb" else "hdfs-memory"}")
    val work = java.nio.file.Files.createTempDirectory("stream10x").toString
    // shard the replica tables so the file source yields real
    // micro-batches (source setup — not part of any measured stream)
    Tables.documents(spark, dir).select(col("doc_id"), col("source"), col("text"))
      .repartition(shards).write.mode("overwrite").parquet(s"$work/docs")
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT))")
        .as("q"))
      .repartition(shards).write.mode("overwrite").parquet(s"$work/vecs")

    def run(name: String)(start: => StreamingQuery): Unit = {
      val t0 = System.nanoTime()
      val query = start
      query.processAllAvailable()
      val secs = (System.nanoTime() - t0) / 1e9
      val progs = query.recentProgress
      val rows = progs.map(_.numInputRows).sum
      val batches = progs.count(_.numInputRows > 0)
      val state = progs.reverse.flatMap(_.stateOperators).headOption
        .map(s => s"rows=${s.numRowsTotal} mem=${s.memoryUsedBytes}B")
        .getOrElse("none (stateless)")
      query.stop()
      println(f"STREAM $name: rows=$rows batches=$batches wall=$secs%.1f s " +
        f"throughput=${rows / secs}%.0f rows/s state[$state]")
    }

    // frozen models from the replica's own batch artifacts (the lambda
    // split: batch trains, stream scores)
    val model = {
      val (c2, c1, v) = SelectionQueries.bigramLm(spark, dir)
      val (w, prior) = ClassifierQueries.fitNb(spark, dir)
      QualityStream.QualityModel(c2, c1, v, SelectionQueries.PplFlagMnat, w, prior)
    }

    run("quality(stateless)") {
      val in = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(s"$work/docs").as[QualityStream.DocIn]
      QualityStream.score(spark, in, model).writeStream.format("noop")
        .option("checkpointLocation", s"$work/cp_quality").start()
    }

    run("gram(d2-state)") {
      val in = spark.readStream
        .schema("vec_id LONG, q ARRAY<LONG>")
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(s"$work/vecs").as[GramStream.Vec]
      GramStream.directions(spark, in).writeStream.format("noop")
        .option("checkpointLocation", s"$work/cp_gram").start()
    }

    run("packing(bucket-state)") {
      val in = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(s"$work/docs")
        .select(col("doc_id"), (col("doc_id") % 8).as("bucket"),
          size(split(col("text"), " ")).cast("long").as("tok"))
        .as[PackingStream.DocTok]
      PackingStream.assignPacks(spark, in).writeStream.format("noop")
        .option("checkpointLocation", s"$work/cp_packing").start()
    }

    // standing corpus index over the BASE corpus (bounded: ~250k
    // hashes at sf0.1) — setup, not part of the measured stream
    val spanIdx = SpanStream.corpusIndex(
      Tables.documents(spark, baseDir)
        .select(col("doc_id"), col("text")), 10)
    run("span(hash-state)") {
      val in = spark.readStream
        .schema("doc_id LONG, source STRING, text STRING")
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(s"$work/docs")
        .select(col("doc_id"), col("text"))
        .as[SpanStream.DocText]
      SpanStream.dupWindows(spark, in, spanIdx, 10).writeStream.format("noop")
        .option("checkpointLocation", s"$work/cp_span").start()
    }

    // reference centroids: the first K streamed vectors, K = √N (the
    // batch index's cell count rule) — kilobyte closure, like prod
    val refCentroids = {
      val n = spark.read.parquet(s"$work/vecs").count()
      val k = math.max(4, math.sqrt(n.toDouble).toInt / 2)
      spark.read.parquet(s"$work/vecs").orderBy(col("vec_id")).limit(k)
        .collect().zipWithIndex.map { case (r, i) =>
          // Row array columns come back as mutable ArraySeq — convert
          // before the immutable-Seq-typed case class
          CentroidStream.Centroid(i,
            r.getAs[scala.collection.Seq[Long]]("q").iterator
              .map(_.toDouble / 1000.0).toSeq)
        }.toSeq
    }
    println(s"STREAMCFG centroids K=${refCentroids.length} d=${refCentroids.head.cv.length}")
    run("centroid(KxD-state)") {
      val in = spark.readStream
        .schema("vec_id LONG, q ARRAY<LONG>")
        .option("maxFilesPerTrigger", filesPerTrigger)
        .parquet(s"$work/vecs")
        .select(col("vec_id"), expr("transform(q, x -> CAST(x AS DOUBLE) / 1000.0)").as("v"))
        .as[CentroidStream.Vec]
      CentroidStream.updates(spark, in, refCentroids).writeStream.format("noop")
        .option("checkpointLocation", s"$work/cp_centroid").start()
    }

    spark.stop()
  }
}
