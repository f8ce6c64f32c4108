package graft.bench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Deterministic ORGANIC corpus generator for the sf1.0 pipeline soak.
  *
  * The driver's sf0.1 `documents` table is 5k docs drawn from a ~20-word
  * vocabulary, and `LpSoak`'s repl=N mode replicates those texts N× — every
  * text an exact-duplicate family: the friendliest regime for dedup caps
  * (buckets saturate trivially) and unrepresentative for LSH bucket
  * occupancy, classifier feature distributions and n-gram statistics. This
  * main generates a 10×-scale corpus with organic-shaped diversity instead:
  *
  *  - ~46k-word synthetic vocabulary (syllable-composed), sampled
  *    log-uniformly (a Zipf(≈1) approximation) over per-source frequency
  *    biases, so shingle/DF statistics behave like real text;
  *  - 3 language families with distinct syllable inventories (lang-id has
  *    real signal), 20 sources with distinct vocab offsets;
  *  - log-normal document lengths (20–800 words);
  *  - controlled duplication: per 20-doc family, 16 unique docs, 2 exact
  *    duplicates of the family head, 2 near-duplicates (~5% word mutations)
  *    — realistic 10%/10% exact/near rates instead of 100% duplication;
  *  - embeddings: 16 latent centers (label = center) + per-vector noise,
  *    dim 64 like the driver corpus.
  *
  * Everything derives from java.util.Random seeded by the row id inside
  * mapPartitions over spark.range — fully distributed, no driver-side
  * generation, byte-identical on re-run. Usage:
  *   runMain graft.bench.OrganicCorpus <outDir> [nDocs] [nVecs]
  */
object OrganicCorpus {

  // syllable inventories per language family — distinct enough that n-gram
  // lang-id heuristics separate them
  private val sylsEn = Array("the", "an", "er", "ing", "ly", "con", "ter",
    "ment", "sta", "pro", "re", "de", "ver", "tion", "al", "is", "at", "en",
    "or", "un", "ed", "es", "ar", "ap", "us", "ous", "ble", "ful")
  private val sylsDe = Array("ge", "schaft", "ung", "lich", "ein", "zu",
    "ver", "der", "das", "sch", "auf", "aus", "uber", "ten", "den", "keit",
    "wer", "mit", "vor", "nach", "zwi", "chen")
  private val sylsFr = Array("le", "eau", "oux", "ment", "tion", "ique",
    "ais", "oir", "eur", "elle", "ons", "ez", "que", "dans", "sur", "une",
    "des", "avec", "pour", "est")

  private def word(lang: Int, idx: Int): String = {
    val syls = lang match {
      case 1 => sylsDe
      case 2 => sylsFr
      case _ => sylsEn
    }
    // 2-4 syllables keyed off the word index — stable vocabulary
    val r = new java.util.Random(idx * 2654435761L + lang)
    val n = 2 + r.nextInt(3)
    val sb = new StringBuilder
    var i = 0
    while (i < n) { sb.append(syls(r.nextInt(syls.length))); i += 1 }
    sb.toString
  }

  /** log-uniform word index over [0, v) — Zipf(≈1)-shaped frequencies */
  private def zipfIdx(r: java.util.Random, v: Int): Int =
    math.min(v - 1, math.exp(r.nextDouble() * math.log(v.toDouble)).toInt - 1)

  private val langs = Array("en", "de", "fr")
  private val vocabSize = 46000

  /** the organic text of one document seed (family-head seeds shared by
    * exact/near duplicates) */
  private def textOf(seed: Long, lang: Int, source: Int): Array[String] = {
    val r = new java.util.Random(seed * 6364136223846793005L + 1442695040888963407L)
    val nWords = math.max(20, math.min(800,
      math.exp(4.2 + 1.0 * r.nextGaussian()).toInt))
    // per-source vocabulary bias: each source prefers its own 4k-word slice
    // for ~30% of tokens — sources get distinct n-gram profiles
    val srcBase = source * 2300
    Array.fill(nWords) {
      val idx =
        if (r.nextDouble() < 0.3) srcBase + r.nextInt(2300)
        else zipfIdx(r, vocabSize)
      word(lang, idx)
    }
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft_organic_sf1")
    val nDocs = args.drop(1).headOption.map(_.toLong).getOrElse(50000L)
    val nVecs = args.drop(2).headOption.map(_.toLong).getOrElse(20000L)
    val spark = graft.GraftSession()

    val docSchema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType, nullable = false),
      StructField("lang", StringType, nullable = false),
      StructField("source", StringType, nullable = false),
      StructField("n_chars", LongType, nullable = false)))
    val docRows = spark.range(0L, nDocs, 1L, graft.GraftSession.cpus).rdd.map { d =>
      val family = d / 20
      val rid = (d % 20).toInt
      val fr = new java.util.Random(family * 31 + 7)
      val lang = if (fr.nextDouble() < 0.8) 0 else 1 + fr.nextInt(2)
      val source = fr.nextInt(20)
      val words: Array[String] = rid match {
        case r0 if r0 <= 15 => textOf(d, lang, source) // unique
        case 16 | 17 => textOf(family * 20, lang, source) // exact dup of head
        case _ => // near-dup of head: ~5% token mutations
          val base = textOf(family * 20, lang, source)
          val mr = new java.util.Random(d * 104729L + 13)
          base.map(w =>
            if (mr.nextDouble() < 0.05) word(lang, zipfIdx(mr, vocabSize))
            else w)
      }
      val text = words.mkString(" ")
      Row(d, text, langs(lang), s"src$source", text.length.toLong)
    }
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    spark.createDataFrame(docRows, docSchema)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")

    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType, nullable = false),
      StructField("embedding", ArrayType(FloatType, containsNull = false),
        nullable = false),
      StructField("label", IntegerType, nullable = false)))
    // 16 latent centers; center coords derive from the center id, vectors
    // get gaussian noise around their center — ANN/k-means/semantic dedup
    // see real cluster structure at organic occupancy
    val vecRows = spark.range(0L, nVecs, 1L, graft.GraftSession.cpus).rdd.map { v =>
      val r = new java.util.Random(v * 2862933555777941757L + 3037000493L)
      val center = r.nextInt(16)
      val cr = new java.util.Random(center * 7919L + 1)
      val emb = Array.fill(64)((cr.nextGaussian() +
        0.35 * r.nextGaussian()).toFloat)
      Row(v, emb.toSeq, center)
    }
    spark.createDataFrame(vecRows, vecSchema)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    // the remaining sf tables ride along for path resolution, unscaled
    val src = "/root/testdata/sf0.1"
    new java.io.File(src).listFiles().filter(_.getName.endsWith(".parquet"))
      .filterNot(f => Set("documents.parquet", "embeddings.parquet")(f.getName))
      .foreach { f =>
        val link = java.nio.file.Paths.get(out).resolve(f.getName)
        if (!java.nio.file.Files.exists(link))
          java.nio.file.Files.createSymbolicLink(link, f.toPath.toAbsolutePath)
      }
    println(s"""{"metric":"organic_corpus","docs":$nDocs,"vecs":$nVecs,"out":"$out"}""")
    spark.stop()
  }
}
