package graft.bench

import org.apache.spark.sql.{functions => F}

/** Scaled pipeline soak: replicate the sf0.1 documents/embeddings corpus
  * REPL× (deterministic doc_id/vec_id offsets — every text becomes an
  * exact-duplicate family of size REPL, the high-duplication regime dedup
  * exists for) into a scratch dir, run the lp query set once warm + once
  * timed, and report per-query seconds + output rows plus cap-engagement
  * counters (LSH stop-buckets hit, Jaccard DF-capped shingles, semantic
  * sub-splits triggered). The driver's lp gate is graded at sf0.1 where no
  * cap engages; this main produces the measured evidence for SCALE.md that
  * the candidate-generation bounds actually bite as the corpus grows.
  *
  * Usage: SPARK_GRAFT_SOAK_REPL=10 runMain graft.bench.LpSoak [srcDir] [outDir]
  */
object LpSoak {
  private val IdOffset = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.drop(1).headOption.getOrElse("/tmp/graft_soak")
    val repl = sys.env.getOrElse("SPARK_GRAFT_SOAK_REPL", "10").toInt
    def loadavg: String =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split(" ").take(3).mkString(",")
      catch { case _: Exception => "" }
    val loadBefore = loadavg
    val spark = graft.GraftSession()

    // ---- build the replicated corpus (idempotent on the scratch dir) ----
    val outPath = java.nio.file.Paths.get(out)
    if (!java.nio.file.Files.exists(outPath.resolve("documents.parquet"))) {
      java.nio.file.Files.createDirectories(outPath)
      def replicate(table: String, idCol: String): Unit = {
        val df = spark.read.parquet(s"$src/$table.parquet")
        (0 until repl).map(i =>
            df.withColumn(idCol, F.col(idCol) + F.lit(i.toLong * IdOffset)))
          .reduce(_ unionByName _)
          .repartition(graft.GraftSession.cpus)
          .write.mode("overwrite").parquet(s"$out/$table.parquet")
      }
      replicate("documents", "doc_id")
      replicate("embeddings", "vec_id")
      // remaining tables ride along unscaled (lp queries don't read them,
      // but the suite helpers may resolve paths)
      new java.io.File(src).listFiles().filter(_.getName.endsWith(".parquet"))
        .filterNot(f => Set("documents.parquet", "embeddings.parquet")(f.getName))
        .foreach { f =>
          val link = outPath.resolve(f.getName)
          if (!java.nio.file.Files.exists(link))
            java.nio.file.Files.createSymbolicLink(link, f.toPath.toAbsolutePath)
        }
    }

    val docs = spark.read.parquet(s"$out/documents.parquet")
    val embs = spark.read.parquet(s"$out/embeddings.parquet")
    val nDocs = docs.count(); val nEmbs = embs.count()

    // ---- cap-engagement probes (same constructions/defaults as the
    // operators: minhashPairs bands=16 rows=4 maxBucket=200;
    // jaccardPairs 3-grams maxDF=100; semanticPairs kEff corpus floor
    // (n/targetBlock=1024) + maxBlock=2048 sub-split backstop) ----
    val sigs = graft.pipeline.Dedup.minhashSignatures(docs, 64)
    val buckets = sigs.select(F.col("doc_id"),
        F.explode(F.expr("transform(sequence(0, 15), " +
          "b -> struct(b AS band, hash(slice(sig, b * 4 + 1, 4)) AS bh))")).as("bb"))
      .groupBy(F.col("bb.band"), F.col("bb.bh")).agg(F.count(F.lit(1)).as("n"))
    val stopBuckets = buckets.filter(F.col("n") > 200)
      .agg(F.count(F.lit(1)), F.coalesce(F.sum("n"), F.lit(0L))).head()
    val dfCapped = graft.pipeline.Dedup.shingleRows(docs, 3)
      .groupBy("sg").agg(F.countDistinct("doc_id").as("df"))
      .filter(F.col("df") > 100).count()
    // kEff mirrors semanticPairs' corpus-scaling floor so the probe sees
    // the cluster sizes the OPERATOR actually works with
    val kEffProbe = math.max(8, ((nEmbs + 1023) / 1024).toInt)
    val clusters = embs.join(
        graft.pipeline.Similarity.kmeans(embs, kEffProbe, 3), "vec_id")
      .groupBy("cluster").agg(F.count(F.lit(1)).as("n"))
    val oversize = clusters.filter(F.col("n") > 2048)
      .agg(F.count(F.lit(1)),
        F.coalesce(F.sum(F.ceil(F.col("n") / 2048.0)), F.lit(0L))).head()

    // ---- timed lp sweep: one untimed warm pass, one timed run ----
    def timed(body: => Long): (Double, Long) = {
      val t0 = System.nanoTime(); val rows = body
      ((System.nanoTime() - t0) / 1e9, rows)
    }
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    val lp = graft.SparkEntry.queries.filter(_._1.startsWith("lp"))
      .filter(q => only.forall(_.findFirstIn(q._1).isDefined)).toSeq.sortBy(_._1)
    val results = lp.map { case (name, fn) =>
      try { fn(spark, out).count() } catch { case _: Throwable => () } // warm
      val (secs, rows) = timed {
        try fn(spark, out).count() catch { case _: Throwable => -1L } }
      println(f"""{"q":"$name","sec":$secs%.3f,"rows":$rows}""")
      (name, secs, rows)
    }
    val total = results.map(_._2).sum
    println(
      s"""{"metric":"lp_soak","repl":$repl,"docs":$nDocs,"embeddings":$nEmbs,""" +
      s""""total_sec":${math.round(total * 1000) / 1000.0},""" +
      s""""lsh_stop_buckets":${stopBuckets.getLong(0)},"lsh_stop_bucket_rows":${stopBuckets.getLong(1)},""" +
      s""""jaccard_df_capped_shingles":$dfCapped,""" +
      s""""semantic_oversize_clusters":${oversize.getLong(0)},"semantic_sub_blocks":${oversize.getLong(1)},""" +
      s""""load_before":"$loadBefore","load_after":"$loadavg"}""")
    spark.stop()
  }
}
