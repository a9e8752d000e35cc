package graftbench

import scala.util.Random

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{HilbertCurve, MinHash, StringSimilarity, TextChunker, TextFunctions, VectorExpressions}

/** Per-row cost of graft's public kernels, in codegen and interpreted
  * mode, over one seed-generated frame cached in memory. A kernel's
  * figure is the median over three rounds of (a pass projecting the
  * kernel over the frame minus a pass projecting a constant), divided
  * by the row count; it includes decoding the kernel's inputs from the
  * cache. */
object Kernels {
  private val Rows = 100000
  private val Reps = 3

  def apply(spark: SparkSession, seed: Long): Seq[(String, Double)] = {
    val rnd = new Random(seed)
    val planes = Array.fill(16, 64)(rnd.nextGaussian())
    val centroids = Array.fill(32, 64)(rnd.nextGaussian().toFloat)
    val vocab = array("spark window merge table column vector stream value data small join filter big group hash customer sort order slow line part fast row the agg key query a scan batch"
      .split(" ").toSeq.map(lit): _*)
    def h(parts: Column*): Column = pmod(xxhash64((lit(seed) +: parts): _*), lit(1L << 30))
    def vec(salt: Int): Column = transform(sequence(lit(1), lit(64)),
      i => ((h(col("id"), i, lit(salt)) % 2001 - 1000) / 1000.0).cast("float"))
    val frame = spark.range(0, Rows, 1, 8)
      .select(col("id"),
        transform(sequence(lit(1), lit(10) + h(col("id")) % 40),
          i => element_at(vocab, (h(col("id"), i) % 30 + 1).cast("int"))).as("toks"),
        vec(1).as("a"), vec(2).as("b"),
        (h(col("id"), lit(3)) % 65536).as("x"), (h(col("id"), lit(4)) % 65536).as("y"))
      .withColumn("text", array_join(col("toks"), " "))
      .withColumn("s1", concat_ws(" ", slice(col("toks"), 1, 2)))
      .withColumn("s2", concat_ws(" ", slice(col("toks"), 2, 2)))
      .withColumn("sh", MinHash.shingleHash60(col("toks"), 3))
      .withColumn("sig_a", MinHash.minhashSigs(col("sh"), 64))
      .withColumn("sig_b", MinHash.minhashSigs(slice(col("sh"), 2, 1000), 64))
      .persist(StorageLevel.MEMORY_ONLY)
    frame.count()
    val kernels: Seq[(String, Column)] = Seq(
      "cosine_sim" -> VectorExpressions.cosineFast(col("a"), col("b")),
      "shingle_hash60" -> MinHash.shingleHash60(col("toks"), 3),
      "minhash_sigs" -> MinHash.minhashSigs(col("sh"), 64),
      "simhash32" -> MinHash.simhash32(col("toks")),
      "sig_agree" -> MinHash.sigAgree(col("sig_a"), col("sig_b")),
      "jaro_winkler_sim" -> StringSimilarity.jaroWinkler(col("s1"), col("s2")),
      "hilbert_d" -> HilbertCurve.hilbertD(col("x"), col("y")),
      "md5_prefix60" -> TextFunctions.md5Prefix60(col("text")),
      "signed_proj_buckets" -> VectorExpressions.signedProjBuckets(col("a"), planes),
      "nearest_centroid" -> VectorExpressions.nearestCentroid(col("a"), centroids),
      "rolling_chunks" -> TextChunker.rollingChunks(col("text")))
    def pass(c: Column): Double = {
      val t = System.nanoTime()
      frame.select(c.as("k")).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t) / 1e9
    }
    def nsRow(c: Column): Double = {
      pass(c) // compiles the projection
      Bench.median((1 to Reps).map(_ => pass(c) - pass(lit(0)))) * 1e9 / Rows
    }
    val conf = spark.conf
    val out = Seq(("codegen", "true", "FALLBACK"), ("interp", "false", "NO_CODEGEN")).flatMap {
      case (mode, wholeStage, factory) =>
        conf.set("spark.sql.codegen.wholeStage", wholeStage)
        conf.set("spark.sql.codegen.factoryMode", factory)
        kernels.map { case (k, c) => s"functions.$k.$mode.ns_row" -> nsRow(c) }
    }
    conf.unset("spark.sql.codegen.wholeStage")
    conf.unset("spark.sql.codegen.factoryMode")
    frame.unpersist(blocking = true)
    out
  }
}
