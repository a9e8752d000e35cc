package graft.operators

import java.security.MessageDigest
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.LshParams
import graft.functions.VectorExpressions.{cosineFast, nearestCentroid, signedProjBuckets}
import graft.functions.VectorFunctions.norm

/** Similarity search over the `embeddings` table (Array[Float], 64-d).
  *
  * Two paths:
  * - brute force: broadcast the (bounded) query set against the corpus —
  *   linear in corpus size, embarrassingly parallel, the correctness
  *   baseline;
  * - LSH (random signed projections): bucket both sides once, search
  *   within buckets — the 100 TB path, where a full cross product is
  *   impossible. Hyperplanes are derived from md5 so plans are
  *   deterministic across runs/executors.
  */
object Similarity {

  private val NQueries = 20 // bounded query set for knn demos
  private val K = 5         // neighbors per query
  private val Dims = 64

  /** Hyperplane count for the per-QUERY ANN family (q_ann_lsh /
    * multiprobe). Fixed on purpose: there the bucket width is a
    * recall/cost knob for a BOUNDED query set (measured as data by
    * [[qAnnRecall]]), not a pair-volume bound — the all-pairs near-dup
    * path is the one that must scale its width with the corpus
    * ([[LshParams.widthForCount]], used by [[nearDupLshOf]]). */
  private val AnnPlanes = 8

  /** Brute-force slice bound for [[qEmbedNearDup]] — the N² baseline
    * is only ever run on a fixed-size cross-check slice. */
  private val BruteSlice = 512

  /** Per-label vector stats. Averages are decimal-exact sums (scale 12)
    * of 9-dp-rounded terms divided by the count — order-independent, so
    * the bit-exact gate holds under any partitioning (a raw double avg
    * would depend on Spark's partial-merge order). */
  def qEmbeddingStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.Det.dsum12
    Tables.embeddings(s, d)
      .groupBy($"label")
      .agg(
        count(lit(1)).as("n"),
        round(dsum12(round(norm($"embedding"), 9)) / count(lit(1)), 9).as("avg_norm"),
        round(dsum12(round(element_at($"embedding", 1).cast("double"), 9)) /
          count(lit(1)), 9).as("avg_first"))
  }

  /** EMBEDDING CENTROID DRIFT — "did the embedding distribution move
    * between two corpus slices?" (the vector-space twin of q_ks_drift;
    * re-embedding audits, encoder-version drift): per label, the L2
    * distance between the centroids of the even and odd vec_id halves.
    * Float averaging is made engine-exact by the integer-mean recipe:
    * each component rounds to 9 dp, converts to an EXACT e9 BIGINT
    * through a narrow DECIMAL(20,9) (never a wide decimal product —
    * DuckDB silently demotes >38-digit decimals to DOUBLE), the
    * per-dim sums accumulate wide (DECIMAL(38,0)/HUGEINT), and the
    * mean is ONE truncating division — kept sign-safe with a
    * +1000/element offset (trunc-vs-floor never diverges on a
    * non-negative numerator; the offset cancels exactly in the
    * centroid DIFFERENCE). The squared-distance sum stays integral
    * and exactly one sqrt touches floating point. Scale shape: one
    * (label, half, dim)-grain shuffle agg (map-combinable) over the
    * posexploded components; everything after is label×64 rows. */
  def qCentroidShift(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val comp = Tables.embeddings(s, d)
      .select($"label", pmod($"vec_id", lit(2)).as("half"),
        posexplode($"embedding").as(Seq("dim", "x")))
      .select($"label", $"half", $"dim",
        round($"x".cast("double"), 9).cast("decimal(20,9)").as("x9"))
      .select($"label", $"half", $"dim",
        expr("CAST(x9 * 1000000000 AS BIGINT)").as("xe9"))
    val cent = comp.groupBy($"label", $"half", $"dim")
      .agg(count(lit(1)).as("n"),
        sum($"xe9".cast("decimal(38,0)")).as("se9"))
      .select($"label", $"half", $"dim", $"n",
        expr("CAST((se9 + 1000000000000 * CAST(n AS DECIMAL(38,0)))" +
          " div n AS BIGINT)").as("mean_e9"))
    val ma = cent.filter($"half" === 0)
      .select($"label", $"dim", $"n".as("n_a"), $"mean_e9".as("m_a"))
    val mb = cent.filter($"half" === 1)
      .select($"label", $"dim", $"n".as("n_b"), $"mean_e9".as("m_b"))
    ma.join(mb, Seq("label", "dim"))
      .groupBy($"label")
      .agg(max($"n_a").as("n_a"), max($"n_b").as("n_b"),
        sum(($"m_a" - $"m_b").cast("decimal(38,0)") * ($"m_a" - $"m_b"))
          .as("d2"))
      .select($"label", $"n_a", $"n_b",
        round(sqrt($"d2".cast("double")) / 1e9, 9).as("l2_shift"))
  }

  /** Brute-force top-K cosine neighbors for queries vec_id < NQueries. */
  def qKnnBrute(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val q = emb.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val scored = broadcast(q)
      .join(emb, $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosineFast($"qv", $"embedding").as("cos"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"neighbor_id", $"rank".cast("long").as("rank"),
        round($"cos", 6).as("cos"))
  }

  private val EvalQueries = 100 // bounded held-out slice for the label eval
  private val ClassK = 5        // voters per query

  /** k-NN LABEL CLASSIFICATION EVAL — the standard embedding-quality
    * probe a training-data pipeline runs after (re)embedding a corpus:
    * hold out a bounded query slice (vec_id < [[EvalQueries]]), label
    * each query by majority vote of its [[ClassK]] nearest TRAIN
    * vectors (cosine, the [[qKnnBrute]] kernel; neighbor rank and
    * vote ties both broken deterministically — (cos desc, vec_id asc)
    * and (votes desc, label asc)), and report the per-class census:
    * support, correct count, integer accuracy, and a bit_xor
    * confusion proof folding every (query, predicted, true) triple —
    * so the oracle hash match certifies every individual prediction,
    * not just the accuracy numbers. Scale shape: the query slice is
    * CONSTANT-bounded and broadcast; the corpus only streams through
    * the scoring map + a per-query (≤ corpus-grain) top-k window
    * partitioned by query; everything after vote extraction is
    * ≤ queries×labels rows. */
  def qKnnClassify(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val q = emb.filter($"vec_id" < EvalQueries)
      .select($"vec_id".as("query_id"),
        $"label".cast("long").as("true_label"), $"embedding".as("qv"))
    val train = emb.filter($"vec_id" >= EvalQueries)
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"vec_id".asc)
    val nn = broadcast(q).join(train)
      .select($"query_id", $"true_label", $"vec_id",
        $"label".cast("long").as("pred_label"),
        cosineFast($"qv", $"embedding").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= ClassK)
    val wv = Window.partitionBy($"query_id")
      .orderBy($"votes".desc, $"pred_label".asc)
    val pred = nn.groupBy($"query_id", $"true_label", $"pred_label")
      .agg(count(lit(1)).as("votes"))
      .withColumn("rk", row_number().over(wv))
      .filter($"rk" === 1)
    pred.groupBy($"true_label")
      .agg(count(lit(1)).as("n"),
        sum(when($"pred_label" === $"true_label", 1L).otherwise(0L))
          .as("n_correct"),
        bit_xor(expr("query_id * 1000003 ^ pred_label * 8191 ^ true_label"))
          .as("confusion_checksum"))
      .select($"true_label", $"n", $"n_correct",
        expr("n_correct * 1000000000 div n").as("acc_e9"),
        $"confusion_checksum")
  }

  /** Embedding-space near-duplicate pairs (cosine above threshold) by
    * brute pairwise comparison — the CROSS-CHECK baseline for
    * [[nearDupLsh]], bounded to the `vec_id < BruteSlice` slice so the
    * N² self-join never runs on a full corpus at any SF (the scale
    * path is [[qNearDupLsh]]; its recall against this slice is what
    * the spec suite measures). */
  def qEmbedNearDup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      .filter($"vec_id" < BruteSlice)
    e.as("a").join(e.as("b"), $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        cosineFast($"a.embedding", $"b.embedding").as("cos"))
      .filter($"cos" > 0.4)
      .select($"vec_a", $"vec_b", round($"cos", 6).as("cos"))
  }

  /** Deterministic ±1 hyperplane matrix from md5((plane, dim)). The
    * global plane index space is shared across LSH tables: table t owns
    * indices t·MaxPlanes … t·MaxPlanes+MaxPlanes−1 and uses the first
    * `nPlanes` of them — so a narrower bucket is a bit-PREFIX of the
    * wider one (the property the oracle's mask trick relies on,
    * asserted in LshScaleSpec), every table is independent, and every
    * engine regenerates identical signs from the same md5 bytes. */
  private[graft] def planesFor(table: Int,
                               nPlanes: Int = AnnPlanes): Array[Array[Double]] = {
    val md = MessageDigest.getInstance("MD5")
    Array.tabulate(nPlanes, Dims) { (p, i) =>
      val h = md.digest(s"${table * LshParams.MaxPlanes + p}|$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 1) 1.0 else -1.0
    }
  }

  private[graft] def planes: Array[Array[Double]] = planesFor(0)

  /** DuckDB mirror of [[bucketOf]] for table `t` over a DOUBLE[] column:
    * per plane, the signed sequential sum of ±v[i] (exactly the codegen
    * loop's left-to-right double adds, since multiplying by ±1.0 is
    * exact), compared > 0.0 and weighted 2^p. */
  private[operators] def sqlBucketExpr(v: String, table: Int,
                                       nPlanes: Int = AnnPlanes): String = {
    val ps = planesFor(table, nPlanes)
    (0 until nPlanes).map { p =>
      val terms = (0 until Dims)
        .map(i => (if (ps(p)(i) > 0) "+" else "-") + s"$v[${i + 1}]").mkString
      s"(CASE WHEN (${terms.stripPrefix("+")}) > 0.0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("(", " + ", ")")
  }

  /** Signed-projection LSH bucket id for an embedding column (one
    * fused codegen loop over all planes). */
  private[graft] def bucketOf(v: Column): Column = signedProjBuckets(v, planes)

  /** ANN via LSH buckets: top-K within the query's bucket only.
    * Misses across bucket boundaries are the recall tradeoff; the
    * ScalaTest suite measures recall against qKnnBrute. */
  def qAnnLsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", bucketOf($"embedding").as("bucket"))
    val q = emb.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"), $"bucket")
    val scored = broadcast(q)
      .join(emb, Seq("bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosineFast($"qv", $"embedding").as("cos"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"neighbor_id", $"rank".cast("long").as("rank"),
        round($"cos", 6).as("cos"))
  }

  /** Multi-probe LSH ANN: each query also probes the [[AnnPlanes]]
    * buckets at Hamming distance 1 from its own (flip one hyperplane
    * bit), recovering most neighbors lost across a single boundary for
    * (P+1)× probe cost — still ~(P+1)/2^P of the corpus, nowhere near
    * a scan. The classic recall/cost knob. */
  def qAnnMultiProbe(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", bucketOf($"embedding").as("bucket"))
    val probes = (0 until AnnPlanes).map(p => $"bucket".bitwiseXOR(lit(1L << p)))
    val q = emb.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"),
        explode(array(($"bucket" +: probes): _*)).as("bucket"))
    val scored = broadcast(q)
      .join(emb, Seq("bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosineFast($"qv", $"embedding").as("cos"))
      .distinct()
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"neighbor_id", $"rank".cast("long").as("rank"),
        round($"cos", 6).as("cos"))
  }

  private[operators] val NdTables = 4 // OR-construction tables for near-dup LSH

  /** Banded (table, bucket) view of a corpus for the near-dup
    * OR-construction, with the ladder-chosen plane count. The count()
    * that picks the width is a metadata-cheap action (parquet footers /
    * catalog stats at scale) run once per pipeline. */
  private[graft] def ndBandedOf(emb: DataFrame,
                                tables: Int = NdTables): (DataFrame, Int) = {
    import emb.sparkSession.implicits._
    val e = emb.select($"vec_id", $"embedding")
    val np = LshParams.widthForCount(e.count())
    val bands = (0 until tables).map(t =>
      struct(lit(t).as("t"),
        signedProjBuckets($"embedding", planesFor(t, np)).as("bucket")))
    val banded = e
      .select($"vec_id", $"embedding", explode(array(bands: _*)).as("tb"))
      .select($"vec_id", $"embedding", $"tb.t".as("t"), $"tb.bucket".as("bucket"))
    (banded, np)
  }

  /** LSH-bucketed near-duplicate pairs: the 100 TB path for
    * [[qEmbedNearDup]]'s semantics, and the oracle-checked
    * `q_neardup_lsh` entry. OR-construction over [[NdTables]]
    * independent tables of [[LshParams.widthForCount]] hyperplanes
    * each (bucket space grows with the corpus — occupancy stays ~2^5
    * at any N): a pair is a candidate if it collides in ANY table,
    * which recovers true near-duplicates (cos→1 collides per table
    * w.p. (1-θ/π)^planes → 1) while keeping candidate volume at
    * T·Σ bucketᵢ² ≈ T·N·2^OccLog2 instead of N². One explode (T
    * rows/vector) + one (table, bucket) shuffle; the embedding rides
    * the shuffle so cosine is computed directly on the joined pair, and
    * the final distinct dedups pairs that collide in several tables
    * (bounded ×T blowup, post-threshold so it's tiny).
    *
    * Hot buckets (skewed data) are bounded by `bucketCap`: a bucket
    * with f ≤ cap emits all pairs; above the cap it falls back to STAR
    * pairs around the bucket-minimum id — f−1 pairs instead of f²/2,
    * and (unlike dropping the bucket) an N-copy pathological cluster
    * keeps full connectivity for downstream component clustering.
    * Overflowing buckets are observable via [[lshOverflowOf]] /
    * `q_lsh_bucket_stats`. The window that computes per-bucket (f,
    * min) partitions on the same (t, bucket) key the pair join
    * shuffles on, so it adds a sort but no extra exchange. */
  def nearDupLshOf(emb: DataFrame, threshold: Double = 0.4,
                   tables: Int = NdTables,
                   bucketCap: Int = LshParams.BucketCap): DataFrame = {
    import emb.sparkSession.implicits._
    val (banded, _) = ndBandedOf(emb, tables)
    val w = Window.partitionBy($"t", $"bucket")
    // MEASURED REJECTION (round 13, the q_bootstrap discipline): the
    // clustered-checkpoint treatment (repartition + localClusteredAs
    // sorted, the minhashCandidates shape) was tried here and measured
    // 45.5 s vs 41.2 s at sf30 — unlike the text-side pair builders,
    // this self-join's two sides are IDENTICAL subtrees, so
    // ReuseExchange already shares the one (t, bucket) shuffle and the
    // checkpoint only adds a materialization of the 256 B/row banded
    // table. The super-linear sf10→sf30 growth (4.3 → 41 s for 3×
    // data) is CANDIDATE volume, not shuffles: ScaleUp replicates
    // vectors verbatim, so replica families (~100-wide at sf10,
    // ~300-wide at sf30) collide in every table and emit f²/2 pairs
    // while f ≤ bucketCap — quadratic in family width BY DESIGN
    // (exact pair recovery below the cap; the star fallback takes
    // over above it). Real corpora hit the cap instead.
    val st = banded
      .withColumn("f", count(lit(1)).over(w))
      .withColumn("bmin", min($"vec_id").over(w))
    st.as("a").join(st.as("b"),
        $"a.t" === $"b.t" && $"a.bucket" === $"b.bucket" &&
          $"a.vec_id" < $"b.vec_id" &&
          ($"a.f" <= bucketCap || $"a.vec_id" === $"a.bmin"))
      .select($"a.vec_id".as("vec_a"), $"b.vec_id".as("vec_b"),
        cosineFast($"a.embedding", $"b.embedding").as("cos"))
      .filter($"cos" > threshold)
      .select($"vec_a", $"vec_b", round($"cos", 6).as("cos"))
      .distinct()
  }

  def nearDupLsh(s: SparkSession, d: String, threshold: Double = 0.4,
                 tables: Int = NdTables,
                 bucketCap: Int = LshParams.BucketCap): DataFrame =
    nearDupLshOf(Tables.embeddings(s, d), threshold, tables, bucketCap)

  def qNearDupLsh(s: SparkSession, d: String): DataFrame = nearDupLsh(s, d)

  /** MUTUAL-NEAREST-NEIGHBOR ALIGNMENT — the embedding verb behind
    * cross-corpus linking (bitext mining, translated-page pairing,
    * cross-source entity match): the corpus splits into two sides by
    * vec_id parity (the cross-source surrogate), and a pair is an
    * alignment iff each side is the other's BEST candidate — the
    * reciprocal top-1 filter that kills the asymmetric hub matches a
    * one-directional top-1 keeps. Candidates come from the shared
    * [[nearDupLshOf]] bucket machinery (never all-pairs; ladder-width
    * buckets + star caps), top-1 per side via rank windows on the
    * 6-dp-rounded cosine with id tie-breaks — fully deterministic,
    * and mirrored 1:1 in the oracle on the same candidate SQL.
    * Output also carries each side's candidate count (match
    * confidence context). Recall is LSH-bounded by design, same as
    * q_neardup_lsh. */
  def qMutualNn(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cross = nearDupLsh(s, d)
      .filter(pmod($"vec_a", lit(2L)) =!= pmod($"vec_b", lit(2L)))
      .select(
        when(pmod($"vec_a", lit(2L)) === 0, $"vec_a").otherwise($"vec_b")
          .as("a"),
        when(pmod($"vec_a", lit(2L)) === 0, $"vec_b").otherwise($"vec_a")
          .as("b"),
        $"cos")
    val wa = Window.partitionBy($"a").orderBy($"cos".desc, $"b".asc)
    val wb = Window.partitionBy($"b").orderBy($"cos".desc, $"a".asc)
    cross
      .withColumn("cand_a", count(lit(1)).over(Window.partitionBy($"a")))
      .withColumn("cand_b", count(lit(1)).over(Window.partitionBy($"b")))
      .withColumn("ra", row_number().over(wa))
      .withColumn("rb", row_number().over(wb))
      .filter($"ra" === 1 && $"rb" === 1)
      .select($"a".as("id_even"), $"b".as("id_odd"), $"cos",
        $"cand_a", $"cand_b")
      .orderBy($"id_even".asc)
  }

  /** Overflow diagnostic: the (table, bucket) cells whose occupancy
    * exceeds the cap — i.e. where [[nearDupLshOf]] engaged the star
    * fallback. Empty on healthy data; a non-empty result names the
    * exact cells to inspect (planted spam, collapsed embeddings). */
  def lshOverflowOf(emb: DataFrame, tables: Int = NdTables,
                    bucketCap: Int = LshParams.BucketCap): DataFrame = {
    import emb.sparkSession.implicits._
    val (banded, _) = ndBandedOf(emb, tables)
    banded.groupBy($"t", $"bucket").agg(count(lit(1)).as("f"))
      .filter($"f" > bucketCap)
  }

  /** DuckDB mirror of the embed-family row of `q_lsh_bucket_stats`
    * (the query itself lives in [[Dedup]] next to the text families). */
  private[operators] def ndStatsSql(cap: Int): String = {
    val bkArms = (0 until NdTables).map(t =>
      s"""SELECT $t AS t, (${sqlBucketExpr("v", t, LshParams.MaxPlanes)}
         |  & ((CAST(1 AS BIGINT) << planes) - 1)) AS bucket
         |FROM e CROSS JOIN p""".stripMargin)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT COUNT(*) AS cnt FROM e),
       |p AS (SELECT ${LshParams.ladderSql("cnt")} AS planes FROM n),
       |bk AS (${bkArms.mkString("\nUNION ALL\n")}),
       |fs AS (SELECT t, bucket, COUNT(*) AS f FROM bk GROUP BY 1, 2)
       |SELECT 'embed_lsh' AS family, (SELECT cnt FROM n) AS n,
       |CAST((SELECT planes FROM p) AS BIGINT) AS width,
       |COUNT(*) AS n_buckets, MAX(f) AS max_f,
       |CAST(SUM(CASE WHEN f > $cap THEN 1 ELSE 0 END) AS BIGINT) AS n_over_cap
       |FROM fs""".stripMargin
  }

  private[graft] val Cells = 16    // IVF coarse-quantizer cells
  private val NProbe = 2    // cells probed per query

  /** IVF-style ANN: the corpus is coarse-quantized to the nearest of
    * [[Cells]] centroid vectors (a NARROW map via the codegen
    * [[graft.functions.VectorExpressions.NearestCentroid]] — no
    * shuffle), and each query searches only its [[NProbe]] best cells.
    * Centroids here are the first [[Cells]] corpus vectors; at scale
    * they come from a k-means sample job, and the search shape is
    * unchanged. Cell sizes are ~N/Cells, so probed work is
    * ~NProbe/Cells of the corpus instead of all of it. */
  /** Shared IVF search body: coarse-quantize the corpus to the given
    * centroids (narrow codegen map), probe each query's [[NProbe]]
    * best cells, local top-k. */
  private def ivfSearch(s: SparkSession, emb: DataFrame,
                        centroids: Array[Array[Float]]): DataFrame = {
    import s.implicits._
    val corpus = emb.select($"vec_id", $"embedding",
      nearestCentroid($"embedding", centroids).as("cell"))
    val centDf = centroids.zipWithIndex
      .map { case (v, i) => (i + 1, v) }.toSeq.toDF("cell", "cv")
    val wProbe = Window.partitionBy($"query_id").orderBy($"ccos".desc, $"cell".asc)
    val queryCells = emb.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .crossJoin(broadcast(centDf))
      .withColumn("ccos", cosineFast($"qv", $"cv"))
      .withColumn("pr", row_number().over(wProbe))
      .filter($"pr" <= NProbe)
      .select($"query_id", $"qv", $"cell")
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    broadcast(queryCells)
      .join(corpus, Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosineFast($"qv", $"embedding").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"neighbor_id", $"rank".cast("long").as("rank"),
        round($"cos", 6).as("cos"))
  }

  /** Pinned IVF coarse centroids for corpus dir `d`: the first
    * [[Cells]] corpus vectors — the oracle-mirrorable stand-in for a
    * k-means sample job. A bounded MODEL collect (Cells × Dims floats),
    * like k-means centers. */
  private def pinnedCentroids(s: SparkSession, d: String): Array[Array[Float]] = {
    import s.implicits._
    Tables.embeddings(s, d).filter($"vec_id" < Cells)
      .orderBy($"vec_id").select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray)
  }

  def qAnnIvf(s: SparkSession, d: String): DataFrame =
    ivfSearch(s, Tables.embeddings(s, d), pinnedCentroids(s, d))

  /** Deterministic IVF-store table name per corpus dir (the
    * [[graft.operators.Dedup.fpStoreTable]] convention at the
    * embedding grain). */
  private[graft] def ivfStoreTable(d: String): String = {
    val md = MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_ivfstore_${md.take(12)}"
  }

  /** Build (if absent) the STANDING IVF INDEX STORE for corpus dir
    * `d` — the fourth member of the standing-store family
    * ([[graft.operators.Dedup.ensureFpStore]] exact-fingerprint,
    * anchor, band), at the embedding grain: every corpus vector
    * assigned to its nearest pinned coarse centroid (the [[qAnnIvf]]
    * literal-mirror discipline, one narrow codegen map) and persisted
    * as a parquet table PARTITIONED BY cell. Unlike the probe-key
    * stores this is a true inverted file: the directory layout IS the
    * index, so a query batch that probes NProbe of Cells cells reads
    * only those cells' files — partition pruning at the scan, the
    * ~NProbe/Cells I/O bound that makes ANN serving viable on a
    * standing 100 TB corpus (a bucketed layout would still scan every
    * file and only save the shuffle). Assignment runs ONCE at
    * ingest; queries never re-quantize corpus vectors. */
  private[graft] def ensureIvfStore(s: SparkSession, d: String): String =
    ensureIvfStore(s, d, null)

  /** [[ensureIvfStore]] with the centroid model supplied by the caller
    * (ivfStoreSearch already collected it for the query-cell argmax —
    * one model collect per probe, not two); `centroids` may be null,
    * in which case they are collected only if the store is absent. */
  private[graft] def ensureIvfStore(s: SparkSession, d: String,
                                    cents: Array[Array[Float]]): String = {
    import s.implicits._
    val tbl = ivfStoreTable(d)
    graft.sources.Sources.recoverRotation(s, tbl)
    if (!s.catalog.tableExists(tbl)) {
      val centroids = if (cents != null) cents else pinnedCentroids(s, d)
      Tables.embeddings(s, d)
        .select($"vec_id", $"embedding",
          nearestCentroid($"embedding", centroids).as("cell"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell")
        .format("parquet")
        .option("path", s"/tmp/graft_fpstore/$tbl")
        .saveAsTable(tbl)
    }
    tbl
  }

  /** Close the ingest loop on the standing IVF store: assign a new
    * vector batch to its cells with the SAME pinned centroids the
    * store was built with, and append. A partitioned-table append
    * only adds files under the touched cell directories — standing
    * cells' files are untouched, so probes keep their partition
    * pruning and immediately see the new vectors in any probed cell.
    * (Production re-clusters centroids at major compactions; between
    * them, appending into the frozen cell space is exactly how IVF
    * serving ingests.) */
  private[graft] def appendIvfStore(s: SparkSession, d: String,
                                    vecs: DataFrame): Unit =
      graft.functions.Cp.scoped(s) {
    import s.implicits._
    val tbl = ivfStoreTable(d)
    graft.sources.Sources.recoverRotation(s, tbl)
    require(s.catalog.tableExists(tbl),
      s"IVF store $tbl does not exist — build it with ensureIvfStore")
    val centroids = pinnedCentroids(s, d)
    val batch = graft.functions.Cp.local(
      vecs.select($"vec_id", $"embedding",
        nearestCentroid($"embedding", centroids).as("cell")))
    // Append idempotency WITHOUT a store-side exchange (the
    // bounded-hits pattern at the IVF grain): the batch's cells are a
    // static partition filter, the pruned standing rows map-side
    // semi-join the BROADCAST batch ids (hits are batch-bounded, the
    // store never shuffles or broadcasts), and the batch anti-joins
    // the hits — a crash-replayed or re-ingested batch appends
    // NOTHING instead of eroding bucket occupancy with rows no probe
    // distinguishes (StoreIngestStreamSpec replays one verbatim; the
    // other four families already had this property).
    val cells = batch.select($"cell").distinct().as[Int].collect()
    val hits = s.table(tbl)
      .filter($"cell".isin(cells.map(Int.box): _*))
      .join(broadcast(batch.select($"vec_id")), Seq("vec_id"), "left_semi")
      .select($"vec_id").distinct()
    batch.join(broadcast(hits), Seq("vec_id"), "left_anti")
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("cell").format("parquet").saveAsTable(tbl)
  }

  /** Close the IVF store's maintenance loop: collapse each cell
    * directory back to one file ([[graft.sources.Sources
    * .compactPartitioned]] — appends stack a file per touched cell
    * per batch; the cell-directory index and its partition pruning
    * are unchanged, only the per-cell file count drops). The
    * partitioned-table twin of [[compactGraphStore]] / [[graft
    * .sources.Sources.compactBucketed]], same append-then-compact
    * lifecycle. */
  private[graft] def compactIvfStore(s: SparkSession, d: String): Unit =
    graft.sources.Sources.compactPartitioned(s, ivfStoreTable(d), "cell")

  /** IVF search against the PERSISTED index store: the query batch
    * (bounded) picks its NProbe best cells, the probed cell SET —
    * ≤ Cells values, a model-sized driver collect like the centroids
    * themselves — becomes a partition filter on the store, and the
    * scan reads ONLY those cells' files. Everything downstream is the
    * [[ivfSearch]] shape: broadcast query side, per-cell cosine,
    * bounded top-k window. */
  private[graft] def ivfStoreSearch(s: SparkSession, d: String,
                                    nQ: Int): DataFrame = {
    import s.implicits._
    val centroids = pinnedCentroids(s, d)
    val centDf = centroids.zipWithIndex
      .map { case (v, i) => (i + 1, v) }.toSeq.toDF("cell", "cv")
    val wProbe = Window.partitionBy($"query_id").orderBy($"ccos".desc, $"cell".asc)
    val queryCells = Tables.embeddings(s, d).filter($"vec_id" < nQ)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
      .crossJoin(broadcast(centDf))
      .withColumn("ccos", cosineFast($"qv", $"cv"))
      .withColumn("pr", row_number().over(wProbe))
      .filter($"pr" <= NProbe)
      .select($"query_id", $"qv", $"cell")
      .transform(graft.functions.Cp.local) // read twice: cell set + join
    // the probed-cell set is bounded by Cells — a model parameter, not
    // data — and collecting it makes the pruning STATIC: the store scan
    // carries it as a partition filter, no lookup-join planning needed
    val probed = queryCells.select($"cell").distinct()
      .collect().map(r => Int.box(r.getInt(0))).toSeq
    val store = s.table(ensureIvfStore(s, d, centroids))
      .filter($"cell".isin(probed: _*))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    broadcast(queryCells)
      .join(store, Seq("cell"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosineFast($"qv", $"embedding").as("cos"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"neighbor_id", $"rank".cast("long").as("rank"),
        round($"cos", 6).as("cos"))
  }

  /** ANN against the standing IVF store — same results and oracle as
    * [[qAnnIvf]] (the store changes WHERE corpus cells come from,
    * never what they contain); IvfStoreSpec asserts the partition
    * pruning that is the point. */
  def qAnnIvfStore(s: SparkSession, d: String): DataFrame =
    ivfStoreSearch(s, d, NQueries)

  private val GraphM = 12      // max out-degree of the neighbor graph
  private val GraphBeam = 48   // beam width per query (HNSW's ef knob)
  private val GraphHops = 5    // expansion rounds
  private val GraphEntries = 4 // fixed entry points (vec_id < 4)
  // Edge-diversity slots (the HNSW/DiskANN pruning idea in its cheapest
  // deterministic form): on a duplicate-heavy corpus every node's top-M
  // candidates are its own verbatim clones (cos ≈ 1), the graph
  // fragments into disjoint clone cliques, and a beam walk can never
  // leave its entry points' cliques (measured: distance-recall 0.2 on
  // 100×-replica data — exactly the 4/20 queries whose clique holds an
  // entry). Reserving [[GraphDivSlots]] extra edges for the best
  // NON-clone neighbors (cos ≤ [[GraphDivTau]]) restores inter-clique
  // navigation; on clone-free data the diversity arm is a subset of
  // the top-M arm, so edges — and every gate-SF oracle result — are
  // bit-identical to the undiversified build.
  private val GraphDivTau = 0.999
  private val GraphDivSlots = 4
  // the degree invariant compaction restores (soak/spec gate)
  private[graft] val GraphMaxDegree = GraphM + GraphDivSlots

  /** GRAPH-BASED ANN (the NSW/DiskANN family) — beam search over a
    * bounded-degree neighbor graph, the recall/latency frontier past
    * IVF: search cost is hops × beam × degree rows per query,
    * INDEPENDENT of corpus size, where even a pruned IVF probe still
    * reads ~nProbe/cells of the corpus.
    *
    * Index build (ingest-time at scale, in-session here): candidate
    * edges from the ladder-width signed-projection buckets
    * ([[LshParams.widthForCount]] — occupancy pinned at ~2^5 for any
    * N, so the per-bucket self-join stays linear) with all-planes
    * multiprobe (H1 bit flips) for cross-boundary edges, then ONE
    * degree-cap window keeps each node's [[GraphM]] best neighbors —
    * the adjacency is N·M rows. Each edge CARRIES the endpoint vector
    * (the DiskANN co-location trick): a hop is one sequential read of
    * the frontier's adjacency rows, never a second corpus lookup.
    *
    * Search: [[GraphHops]] rounds of expand-score-reselect from
    * [[GraphEntries]] pinned entry points (production: a medoid
    * sample; pinned ids keep the oracle literal). Each round the
    * bounded frontier broadcasts into the adjacency table (map-side,
    * zero shuffle of the corpus-grown side), new candidates anti-join
    * the visited set, and the beam re-selects the best [[GraphBeam]].
    * Everything is deterministic (cos DESC, id ASC tie-breaks), so the
    * whole greedy walk is DuckDB-mirrorable as unrolled MATERIALIZED
    * CTEs — the oracle proves every hop, not just the final top-k. */
  def qAnnGraph(s: SparkSession, d: String): DataFrame =
    annGraphOf(Tables.embeddings(s, d))

  /** [[qAnnGraph]] over any (vec_id, embedding) frame — build the
    * bounded-degree graph in-session and walk it (the `ann_graph` SQL
    * TVF's entry point; queries are the vec_id < [[NQueries]] slice). */
  private[graft] def annGraphOf(emb: DataFrame): DataFrame =
    graphSearch(emb,
      graphEdgesOf(emb)
        .transform(graft.functions.Cp.local)) // re-read every hop

  /** The [[qAnnGraph]] index build as a reusable stage: the
    * bounded-degree adjacency (src, dst, dv) of `emb` — deterministic,
    * so the in-session and persisted forms are row-identical.
    *
    * The graph lives at the REP grain: vectors are canonicalized to
    * one representative per DISTINCT embedding (the family's minimum
    * vec_id — the write-time-DISTINCT discipline the band store uses
    * for MinHash replica families). Without this, a duplicate-heavy
    * corpus (the LLM-data reality: verbatim crawl copies) fragments
    * the graph into clone cliques — every node's best-M candidates are
    * its own copies at cos 1.0, and a beam walk can never leave its
    * entry points' families (measured: distance-recall 0.2 on
    * 100×-replica data, exactly the entry-reachable 4/20 queries).
    * At the rep grain the graph has one node per distinct vector;
    * members re-attach at output time ([[graphSearch]]). On
    * duplicate-free data reps ≡ the corpus and everything below is
    * bit-identical to an uncanonicalized build. */
  private[graft] def graphEdgesOf(emb: DataFrame): DataFrame =
    graphEdgesFromReps(emb,
      graphRepsOf(emb)
        .transform(graft.functions.Cp.local)) // ladder count + bucket base

  /** The rep-grain NODE set of the neighbor graph: one representative
    * per DISTINCT embedding, the family's minimum vec_id. */
  private[graft] def graphRepsOf(emb: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    emb.groupBy($"embedding").agg(min($"vec_id").as("vec_id"))
      .select($"vec_id", $"embedding")
  }

  /** [[graphEdgesOf]] with the rep set supplied (already checkpointed)
    * so store builds can persist the SAME rep frame as the node table
    * without recomputing the corpus groupBy. */
  private[graft] def graphEdgesFromReps(emb: DataFrame,
                                        reps: DataFrame): DataFrame = {
    import emb.sparkSession.implicits._
    val np = LshParams.widthForCount(reps.count())
    val base = reps.select($"vec_id", $"embedding",
      signedProjBuckets($"embedding", planesFor(0, np)).as("bucket"))
    val probes = (0 until np).map(p => $"bucket".bitwiseXOR(lit(1L << p)))
    val probed = base.select($"vec_id", $"embedding",
      explode(array(($"bucket" +: probes): _*)).as("bucket"))
    // corpus-grown both sides: merge join, never an AQE broadcast flip.
    // The cosine is computed MAP-SIDE on the joined pair and only
    // (src, dst, cos) rides the degree-cap shuffle (24 B/row instead
    // of both 256 B vectors — the difference between a ~3 GB and a
    // ~65 GB shuffle at sf10); the endpoint vector is re-attached at
    // the N·M adjacency grain afterwards.
    val cand = probed
      .select($"bucket", $"vec_id".as("src"), $"embedding".as("sv"))
      .join(base.select($"bucket", $"vec_id".as("dst"),
        $"embedding".as("dv")).hint("merge"), Seq("bucket"))
      .filter($"src" =!= $"dst")
      .select($"src", $"dst", cosineFast($"sv", $"dv").as("cos"))
    // a pair can collide via several probes, so the multiset reaches
    // the window with duplicates: dense_rank over (cos DESC, dst ASC)
    // ranks the multiset exactly like row_number ranks the distinct
    // set (duplicates share a full ordering key; distinct dsts never
    // tie on it), and the post-filter dedup runs at the capped
    // N·M(+dup) grain instead of the full candidate volume. The
    // diversity arm ranks only non-clone candidates (cos ≤ DivTau;
    // clones sort as NULLS LAST, so non-null ranks are exactly the
    // ranks within the filtered set) — both windows share the src
    // partitioning, so the second arm adds a sort but no exchange.
    val wAll = Window.partitionBy($"src").orderBy($"cos".desc, $"dst".asc)
    val wDiv = Window.partitionBy($"src")
      .orderBy($"cos_div".desc_nulls_last, $"dst".asc)
    cand
      .withColumn("cos_div", when($"cos" <= GraphDivTau, $"cos"))
      .withColumn("rk", dense_rank().over(wAll))
      .withColumn("rk_div", dense_rank().over(wDiv))
      .filter($"rk" <= GraphM ||
        ($"cos_div".isNotNull && $"rk_div" <= GraphDivSlots))
      .select($"src", $"dst").dropDuplicates("src", "dst")
      .join(emb.select($"vec_id".as("dst"), $"embedding".as("dv"))
        .hint("merge"), Seq("dst"))
      .select($"src", $"dst", $"dv")
  }

  /** The [[qAnnGraph]] beam walk over a given rep-grain adjacency
    * table. The visited set stays NARROW (see [[beamWalk]]); the
    * bounded visited-rep id set broadcasts into one corpus scan to
    * recover rep vectors, whose bounded set broadcasts into a second
    * scan that re-attaches every family member — the final top-k
    * ranks members by (cos DESC, id ASC), id-exact against brute
    * force even on replica-heavy corpora. */
  private[graft] def graphSearch(emb: DataFrame, edges: DataFrame,
                                 pushFrontier: Boolean = false): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val q = emb.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    // entry points at the rep grain: a family's rep is its global
    // minimum id, so any id < GraphEntries whose family min it is
    // appears as the in-slice minimum too — a BOUNDED dedupe, no
    // corpus shuffle (an E-row slice), and provably only true reps
    val ent = emb.filter($"vec_id" < GraphEntries)
      .groupBy($"embedding").agg(min($"vec_id").as("vec_id"))
      .select($"vec_id", $"embedding".as("rv"))
    val visited = beamWalk(q, ent, edges, pushFrontier,
      broadcastBeam = true, carryVectors = true)
    // expand visited reps back to ids: the distinct (rep, vector) set
    // is bounded (≤ entries + hops×beam×degree per query), so it
    // broadcasts into ONE corpus scan — no shuffle, no standing
    // membership table needed
    val repVecs = visited.select($"vec_id".as("rep"), $"rv")
      .dropDuplicates("rep")
    val members = emb.join(broadcast(repVecs), $"embedding" === $"rv")
      .select($"rep", $"vec_id".as("neighbor_id"))
    val wk = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"neighbor_id".asc)
    visited.select($"query_id", $"vec_id".as("rep"), $"cos")
      .join(members, Seq("rep"))
      .filter($"neighbor_id" =!= $"query_id")
      .withColumn("rank", row_number().over(wk)).filter($"rank" <= K)
      .select($"query_id", $"neighbor_id",
        $"rank".cast("long").as("rank"), round($"cos", 6).as("cos"))
  }

  /** The [[GraphHops]]-round expand-score-reselect kernel shared by
    * [[graphSearch]] (serving) and [[appendGraphStore]] (DiskANN-style
    * insertion, which IS a search): from the bounded entry set, each
    * round the per-query beam expands through `edges`, new candidates
    * anti-join the visited set, and the beam re-selects.
    *
    * `carryVectors` trades per-hop job count against per-row payload,
    * and the right side depends on the WALK'S query scale (measured
    * both ways at sf10):
    * - SERVING (bounded query set, tens of rows): carry qv/rv on the
    *   visited rows. The visited volume is tiny, and the narrow form's
    *   extra work per hop (broadcast re-attach of qv, a second member
    *   scan at the end) doubled q_ann_graph_store (6.6 → 12.9 s).
    * - INSERT (corpus-scale batch): NARROW (query_id, vec_id, cos).
    *   The visited multiset is CANDIDATE-volume (batch × hops × beam ×
    *   degree rows), and a 256 B vector riding it is the round-14
    *   payload-on-candidate-shuffle class (~124 GB vs ~5.5 GB per
    *   checkpoint generation at a 60k-rep sf10 batch). qv re-attaches
    *   per hop from the bounded query frame (broadcast — callers chunk
    *   truly huge batches); cosines are computed map-side from the
    *   edge's co-located dv before anything shuffles.
    * `broadcastBeam` picks the frontier join strategy: broadcast for
    * bounded serving query sets, merge join (beam shuffles to the
    * store's bucket granularity, store side streams off its files)
    * for insert batches. */
  private def beamWalk(q: DataFrame, ent: DataFrame, edges: DataFrame,
                       pushFrontier: Boolean, broadcastBeam: Boolean,
                       carryVectors: Boolean): DataFrame = {
    val s = q.sparkSession
    import s.implicits._
    val roll = new graft.functions.Cp.Rolling(s)
    val v0 = q.crossJoin(broadcast(ent))
    var visited = roll((
      if (carryVectors)
        v0.select($"query_id", $"qv", $"vec_id", $"rv",
          cosineFast($"qv", $"rv").as("cos"))
      else
        v0.select($"query_id", $"vec_id",
          cosineFast($"qv", $"rv").as("cos"))
    ).transform(graft.functions.Cp.local))
    for (_ <- 1 to GraphHops) {
      val wb = Window.partitionBy($"query_id")
        .orderBy($"cos".desc, $"vec_id".asc)
      val beamTop = visited
        .withColumn("rk", row_number().over(wb)).filter($"rk" <= GraphBeam)
      val beam =
        if (carryVectors)
          beamTop.select($"query_id", $"qv", $"vec_id".as("src"))
        else
          beamTop.select($"query_id", $"vec_id".as("src"))
            .join(broadcast(q), Seq("query_id"))
            .select($"query_id", $"qv", $"src")
      // pushFrontier: collect the bounded frontier src set (≤ queries
      // × beam) and push it into the adjacency SCAN as a filter —
      // per-hop READ I/O becomes the frontier's buckets/row-groups
      // instead of a full store scan (the broadcast join alone bounds
      // shuffle volume, not read volume). Results are identical either
      // way. This pays only when the standing store dwarfs the page
      // cache (the 100 TB serving shape): at bench scale the per-hop
      // collect job + fresh filtered scan MORE than doubled the walk
      // (6.6 → 16.6 s sf10 — BASELINE.md wave 4), so the shipped
      // queries keep it OFF and deployments flip it at store scale.
      val edgesHop = if (pushFrontier) {
        val srcs = beam.select($"src").distinct().collect()
          .map(r => Long.box(r.getLong(0))).toSeq
        edges.filter($"src".isin(srcs: _*))
      } else edges
      val joined =
        if (broadcastBeam) broadcast(beam).join(edgesHop, Seq("src"))
        else beam.join(edgesHop.hint("merge"), Seq("src"))
      // score MAP-SIDE on the joined pair; in narrow mode only the
      // 24 B scalar rows shuffle (duplicate (query, dst) collisions
      // share qv/dv, so the post-score dedup keeps a deterministic cos)
      val expanded = (
        if (carryVectors)
          joined.select($"query_id", $"qv", $"dst".as("vec_id"), $"dv")
            .dropDuplicates("query_id", "vec_id")
            .select($"query_id", $"qv", $"vec_id", $"dv".as("rv"),
              cosineFast($"qv", $"dv").as("cos"))
        else
          joined.select($"query_id", $"dst".as("vec_id"),
            cosineFast($"qv", $"dv").as("cos"))
            .dropDuplicates("query_id", "vec_id")
      )
        .join(visited.select($"query_id", $"vec_id"),
          Seq("query_id", "vec_id"), "left_anti")
      visited = roll(graft.functions.Cp.local(visited.unionByName(expanded)))
    }
    visited
  }

  /** Deterministic graph-store table name per corpus dir (the
    * [[graft.operators.Dedup.fpStoreTable]] convention). */
  private[graft] def graphStoreTable(d: String): String = {
    val md = MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).map("%02x".format(_)).mkString
    s"graft_graphstore_${md.take(12)}"
  }

  /** Build (if absent) the STANDING NEIGHBOR-GRAPH STORE for corpus
    * dir `d`: the [[graphEdgesOf]] adjacency — (src, dst, dv) with the
    * endpoint vector co-located, DiskANN's on-disk layout — persisted
    * bucketed+sorted by src. This is where graph ANN actually earns
    * its keep at scale: the LSH-candidate + degree-cap build (the only
    * corpus-sized work in the family) runs ONCE at ingest, and every
    * later query session walks the standing adjacency with bounded
    * per-hop reads — no rebuild, no corpus scan, ever. */
  private[graft] def ensureGraphStore(s: SparkSession, d: String): String =
    ensureGraphStoreOver(s, Tables.embeddings(s, d), graphStoreTable(d))

  /** The graph store's companion NODE table name: `<edges>n`. */
  private[graft] def graphNodesTable(tbl: String): String = tbl + "n"

  /** [[ensureGraphStore]] over an arbitrary (vec_id, embedding) frame
    * and explicit table name. Persists TWO tables: the adjacency
    * (src, dst, dv) bucketed+sorted by src, and the rep-grain NODE
    * table (eh, vec_id, embedding) bucketed by eh = xxhash64 of the
    * vector — a physical routing key only (novelty checks verify full
    * vector equality after the eh merge join; eh never reaches an
    * oracle). The node table is what makes the store APPENDABLE: an
    * insert must know which batch vectors are genuinely new without
    * re-scanning corpus text/vectors. */
  private[graft] def ensureGraphStoreOver(s: SparkSession, emb: DataFrame,
                                          tbl: String): String = {
    import s.implicits._
    graft.sources.Sources.recoverRotation(s, tbl)
    graft.sources.Sources.recoverRotation(s, graphNodesTable(tbl))
    if (!s.catalog.tableExists(tbl)) graft.functions.Cp.scoped(s) {
      val reps = graphRepsOf(emb).transform(graft.functions.Cp.local)
      // both tables share one adaptive count (sized off the embedding
      // frame): the adjacency is N*M rows of (long, long, vector), the
      // node table N rows — same order of magnitude
      val nb = graft.operators.Dedup.storeBuckets(emb)
      graft.sources.Sources.writeBucketed(
        graphEdgesFromReps(emb, reps), tbl, "src", nb,
        path = Some(s"/tmp/graft_fpstore/$tbl"))
      graft.sources.Sources.writeBucketed(
        reps.select(xxhash64($"embedding").as("eh"), $"vec_id", $"embedding"),
        graphNodesTable(tbl), "eh", nb,
        path = Some(s"/tmp/graft_fpstore/${graphNodesTable(tbl)}"))
    }
    tbl
  }

  /** DiskANN-style INCREMENTAL MAINTENANCE of a standing graph store —
    * the production verb the build-once form lacks (an appended batch
    * must not force a full O(corpus) edge rebuild). Insertion IS a
    * search: the batch's genuinely-new rep vectors (novelty = an eh
    * merge join against the node table + exact vector equality; batch
    * vectors equal to a standing node are its family members and
    * re-attach at probe time for free) beam-walk the CURRENT adjacency
    * from the store's pinned entry points, each new rep keeps its best
    * [[GraphM]] + [[GraphDivSlots]] visited nodes as FORWARD edges
    * (the build's exact degree rule), and each chosen node gets a BACK
    * edge to the new rep so the walk can reach it. Both directions
    * append bucketed; affected standing nodes temporarily exceed the
    * degree cap (extra edges only widen the beam's candidate set) until
    * [[compactGraphStore]] re-applies the cap — the same
    * append-then-compact lifecycle as the other standing stores. Cost
    * scales with the BATCH (new-rep count × beam × degree), never the
    * corpus. Re-appending an ingested batch is a no-op (novelty
    * anti-join). */
  private[graft] def appendGraphStore(s: SparkSession, tbl: String,
                                      vecs: DataFrame): Unit =
      graft.functions.Cp.scoped(s) {
    import s.implicits._
    val tbln = graphNodesTable(tbl)
    graft.sources.Sources.recoverRotation(s, tbl)
    graft.sources.Sources.recoverRotation(s, tbln)
    require(s.catalog.tableExists(tbl) && s.catalog.tableExists(tbln),
      s"graph store $tbl/$tbln does not exist — build it with ensureGraphStore")
    val batchReps = graphRepsOf(vecs)
      .select(xxhash64($"embedding").as("eh"), $"vec_id", $"embedding")
      .transform(graft.functions.Cp.local) // read twice: hits + anti
    // novelty: candidate matches ride the eh merge join (store side
    // streams off its buckets, zero corpus-side exchange), exact
    // vector equality verified on the eh-colliding pairs only
    val hits = batchReps.select($"eh", $"embedding")
      .join(s.table(tbln).select($"eh", $"embedding".as("emb_st"))
        .hint("merge"), Seq("eh"))
      .filter($"embedding" === $"emb_st")
      .select($"eh", $"embedding")
    val newReps = batchReps
      .join(hits, Seq("eh", "embedding"), "left_anti")
      .transform(graft.functions.Cp.local) // walk + edges + node append
    // all batch vectors already standing (pure replica batch): their
    // members re-attach at probe time via the existing nodes — no
    // graph change, skip the walk and the two appends entirely.
    // Otherwise split the new reps into BROADCAST-BUDGET chunks: the
    // narrow walk re-attaches qv per hop from a broadcast of the query
    // frame (and the back edges broadcast it once more), so an
    // unchunked corpus-scale batch would broadcast an unbounded frame
    // — [[GraphInsertChunk]] reps × ~(8 B id + vector) stays a few
    // hundred MB in the hash relation, a bounded driver cost. Chunks
    // are pmod slices (deterministic order); each later chunk walks
    // the adjacency INCLUDING earlier chunks' edges — the same
    // sequential-insert semantics DiskANN maintenance has, and at the
    // gate SFs every batch is single-chunk so oracles see the
    // one-walk plan unchanged.
    val nNew = newReps.count()
    val nChunks = ((nNew + GraphInsertChunk - 1) / GraphInsertChunk).toInt
    for (i <- 0 until nChunks) graft.functions.Cp.scoped(s) {
      val reps =
        if (nChunks == 1) newReps
        else newReps.filter(pmod($"vec_id", lit(nChunks.toLong)) === i)
          .transform(graft.functions.Cp.local)
      insertGraphReps(s, tbl, tbln, reps)
      if (nChunks > 1) {
        s.catalog.refreshTable(tbl); s.catalog.refreshTable(tbln)
      }
    }
  }

  /** Broadcast budget per insertion walk (reps per chunk): the chunk's
    * query frame rides two broadcasts (per-hop qv re-attach + back
    * edges), so this bounds driver/executor hash-relation memory at
    * ~a few hundred MB for 64-dim float vectors. */
  private val GraphInsertChunk = 262144L

  /** One insertion walk over the CURRENT adjacency for a bounded rep
    * chunk — the body [[appendGraphStore]] runs per broadcast-budget
    * chunk: beam-walk, degree-rule forward edges, symmetric back
    * edges, bucketed appends to both store tables. */
  private def insertGraphReps(s: SparkSession, tbl: String, tbln: String,
                              newReps: DataFrame): Unit = {
    import s.implicits._
    val q = newReps.select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val ent = s.table(tbln).filter($"vec_id" < GraphEntries)
      .select($"vec_id", $"embedding".as("rv"))
    // merge-join frontier: the insert batch is corpus-scale in the
    // worst case, so the beam must never broadcast (and the frontier
    // src set is batch-sized — too wide for a useful scan filter)
    val visited = beamWalk(q, ent, s.table(tbl),
      pushFrontier = false, broadcastBeam = false, carryVectors = false)
    val wA = Window.partitionBy($"query_id")
      .orderBy($"cos".desc, $"vec_id".asc)
    val wD = Window.partitionBy($"query_id")
      .orderBy($"cos_div".desc_nulls_last, $"vec_id".asc)
    val fwd = visited
      .withColumn("cos_div", when($"cos" <= GraphDivTau, $"cos"))
      .withColumn("rk", row_number().over(wA))
      .withColumn("rk_div", row_number().over(wD))
      .filter($"rk" <= GraphM ||
        ($"cos_div".isNotNull && $"rk_div" <= GraphDivSlots))
      .select($"query_id".as("src"), $"vec_id".as("dst"))
      .transform(graft.functions.Cp.local) // forward + back read
    // vectors re-attach at the CAPPED edge grain (≤ new reps ×
    // (M + slots)), never on the walk volume: forward edges carry the
    // dst node's vector (DiskANN co-location) from the node table,
    // back edges the new rep's vector from the bounded batch frame
    val forward = fwd
      .join(s.table(tbln).select($"vec_id".as("dst"), $"embedding".as("dv")),
        Seq("dst"))
      .select($"src", $"dst", $"dv")
    val back = fwd
      .join(broadcast(newReps.select($"vec_id".as("src"),
        $"embedding".as("nv"))), Seq("src"))
      .select($"dst".as("src"), $"src".as("dst"), $"nv".as("dv"))
    graft.sources.Sources.writeBucketed(
      forward.unionByName(back),
      tbl, "src", graft.sources.Sources.bucketCountOf(s, tbl),
      mode = org.apache.spark.sql.SaveMode.Append)
    graft.sources.Sources.writeBucketed(
      newReps.select($"eh", $"vec_id", $"embedding"),
      tbln, "eh", graft.sources.Sources.bucketCountOf(s, tbln),
      mode = org.apache.spark.sql.SaveMode.Append)
  }

  /** Close the graph store's maintenance loop: re-apply the build's
    * degree rule (top-[[GraphM]] by cos + [[GraphDivSlots]] diversity
    * slots, recomputed from the node vectors) over the appended
    * adjacency, and rewrite both tables back to one sorted file per
    * bucket. Heavy by design — this is the periodic maintenance op;
    * probes between compactions just read a slightly-overfull
    * adjacency. */
  private[graft] def compactGraphStore(s: SparkSession, tbl: String): Unit = {
    import s.implicits._
    val srcVecs = s.table(graphNodesTable(tbl))
      .select($"vec_id".as("src"), $"embedding".as("sv"))
    graft.sources.Sources.rewriteBucketed(s, tbl, "src",
      graft.sources.Sources.bucketCountOf(s, tbl), raw =>
        raw.dropDuplicates("src", "dst")
          .join(srcVecs, Seq("src"))
          .withColumn("cos", cosineFast($"sv", $"dv"))
          .withColumn("cos_div", when($"cos" <= GraphDivTau, $"cos"))
          .withColumn("rk", row_number().over(Window.partitionBy($"src")
            .orderBy($"cos".desc, $"dst".asc)))
          .withColumn("rk_div", row_number().over(Window.partitionBy($"src")
            .orderBy($"cos_div".desc_nulls_last, $"dst".asc)))
          .filter($"rk" <= GraphM ||
            ($"cos_div".isNotNull && $"rk_div" <= GraphDivSlots))
          .select($"src", $"dst", $"dv"))
    graft.sources.Sources.compactBucketed(s, graphNodesTable(tbl), "eh")
  }

  // the incoming-batch split for the ingest demo (the
  // graft.operators.Dedup.BatchMod convention at the embedding grain)
  private val IngestMod = 10
  private val IngestRem = 3

  /** Build-once the INGESTED graph store for corpus dir `d`: the base
    * graph over the standing slice (vec_id % [[IngestMod]] ≠
    * [[IngestRem]]), then ONE [[appendGraphStore]] cycle inserting the
    * batch slice. Every step is deterministic, so the final adjacency
    * is a pure function of the corpus — the DuckDB oracle mirrors
    * base build + insertion walk + degree rule edge-for-edge. */
  private[graft] def ensureIngestGraphStore(s: SparkSession,
                                            d: String): String = {
    import s.implicits._
    val tbl = graphStoreTable(d + "!ingest")
    if (!s.catalog.tableExists(tbl)) {
      val emb = Tables.embeddings(s, d)
      ensureGraphStoreOver(s,
        emb.filter(pmod($"vec_id", lit(IngestMod)) =!= IngestRem), tbl)
      appendGraphStore(s, tbl,
        emb.filter(pmod($"vec_id", lit(IngestMod)) === IngestRem))
    }
    tbl
  }

  /** Graph ANN over the INCREMENTALLY MAINTAINED adjacency — the walk
    * serves from base + inserted edges as one store; queries and
    * member re-attachment see the full corpus. The oracle proves the
    * whole maintenance path: every inserted edge, every hop. */
  def qAnnGraphIngest(s: SparkSession, d: String): DataFrame =
    graphSearch(Tables.embeddings(s, d),
      s.table(ensureIngestGraphStore(s, d)), pushFrontier = false)

  /** Graph ANN against the STANDING adjacency store — same walk, same
    * results, same oracle as [[qAnnGraph]] (the edge build is
    * deterministic, so the persisted rows are identical); the index
    * build cost moves to ingest time where it belongs. */
  def qAnnGraphStore(s: SparkSession, d: String): DataFrame =
    graphSearch(Tables.embeddings(s, d), s.table(ensureGraphStore(s, d)),
      pushFrontier = false)

  /** NEIGHBOR-GRAPH HEALTH CENSUS — the index-observability readout
    * for the graph-ANN family (what [[graft.operators.Dedup
    * .qLshBucketStats]] is to the LSH family): per out-degree bucket,
    * how many rep nodes sit there, how many of their edges are
    * RECIPROCATED (the navigability signal — a low-reciprocity graph
    * has one-way funnels the beam can enter but not leave), and a
    * bit_xor proof over the node ids so the oracle match certifies
    * every node's degree placement, not just counts. Scale shape:
    * the edge build (linear, occupancy-pinned) + one N·M-grain
    * self-semi-join on the reversed key + two bounded aggs; output is
    * ≤ M + diversity-slots rows. */
  def qGraphStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val edges = graphEdgesOf(Tables.embeddings(s, d))
      .select($"src", $"dst")
      .transform(graft.functions.Cp.local) // three consumers below
    val recip = edges
      .join(edges.select($"dst".as("src"), $"src".as("dst")).hint("merge"),
        Seq("src", "dst"), "left_semi")
      .groupBy($"src").agg(count(lit(1)).as("n_recip"))
    edges.groupBy($"src").agg(count(lit(1)).as("degree"))
      .join(recip.hint("merge"), Seq("src"), "left")
      .groupBy($"degree")
      .agg(count(lit(1)).as("n_nodes"),
        sum(coalesce($"n_recip", lit(0L))).as("n_recip_edges"),
        bit_xor(expr("src * 1000003")).as("node_checksum"))
      .orderBy($"degree".asc)
  }

  /** CLUSTER LABEL-PURITY CENSUS — the embedding-space diagnostic run
    * alongside [[qKnnClassify]]: coarse-quantize the corpus to the
    * scale-parameterized √N cell set (the [[qSemDedup]] assignment,
    * identical kernel and oracle mirror), take each cell's MAJORITY
    * label (votes desc, label asc — deterministic), and report the
    * distribution of cells across integer purity deciles
    * (majority-votes·10⁹ div cell-size), with vector mass, majority
    * mass, and a bit_xor proof over every (cell, majority-label)
    * assignment. Low-purity mass = embedding space where labels
    * interleave — the "is this embedding good enough to curate with"
    * readout. Scale shape: one narrow assignment map over the corpus,
    * one (cell, label)-grain agg, then everything is cell-bounded
    * (≈√N) and finally decile-bounded (≤ 11 rows). */
  def qClusterPurity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val semCells = math.max(Cells,
      math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    val centroids: Array[Array[Float]] = emb.filter($"vec_id" < semCells)
      .orderBy($"vec_id").select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val corpus = emb.select($"vec_id", $"label".cast("long").as("label"),
      nearestCentroid($"embedding", centroids).as("cell"))
    val votes = corpus.groupBy($"cell", $"label")
      .agg(count(lit(1)).as("votes"))
    val wv = Window.partitionBy($"cell").orderBy($"votes".desc, $"label".asc)
    val cells = votes
      .withColumn("n_vecs", sum($"votes").over(Window.partitionBy($"cell")))
      .withColumn("rk", row_number().over(wv))
      .filter($"rk" === 1)
      .select($"cell", $"label".as("maj_label"), $"votes".as("maj_votes"),
        $"n_vecs")
      .withColumn("purity_e9", expr("maj_votes * 1000000000 div n_vecs"))
    cells
      .groupBy(expr("purity_e9 div 100000000").as("purity_bucket"))
      .agg(count(lit(1)).as("n_cells"),
        sum($"n_vecs").as("n_vecs"),
        sum($"maj_votes").as("n_majority"),
        bit_xor(expr("CAST(cell AS BIGINT) * 1000003 ^ maj_label"))
          .as("cell_checksum"))
      .orderBy($"purity_bucket".asc)
  }

  /** Near-dup cosine threshold for [[qSemDedup]]. Tuned to the
    * synthetic corpus's cosine range (random vectors top out ~0.49
    * within cells); a production run on real embeddings sets ~0.95 —
    * the operator shape is identical at any τ. */
  private[graft] val SemTau = 0.45

  /** SEMDEDUP — embedding-level SEMANTIC deduplication (the
    * cluster-then-prune pass LLM curation runs after exact/minhash
    * text dedup, on meaning rather than surface form): every vector
    * is coarse-quantized to its nearest pinned centroid (the
    * [[qAnnIvf]] literal-mirror discipline), and WITHIN each cell a
    * vector is dropped iff a LOWER-id vector in the same cell has
    * cosine > [[SemTau]] — the deterministic keep-earliest rule, one
    * pass, no transitive closure (mirrors SemDeDup's per-cluster
    * ε-ball pruning; chains prune conservatively, by design). Scale
    * shape: the cell count is SCALE-PARAMETERIZED at
    * max(16, ⌈√N⌉) — the standard IVF sizing, mirrored exactly in the
    * oracle via the same count (⌈√·⌉ of an exact integer is
    * engine-identical: IEEE sqrt is correctly rounded) — so cell size
    * stays ≈ √N and the per-cell self-join stays ~N total pairs
    * instead of going quadratic at a pinned cell count (a fixed 16
    * cells would make each cell N/16 and the join N²/256 — the scale
    * bug this parameterization removes). The √N-bounded centroid
    * collect is the model-collect discipline; the census is one
    * bounded agg with kept/dropped bit_xor placement proofs. */
  def qSemDedup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val semCells = math.max(Cells,
      math.ceil(math.sqrt(emb.count().toDouble)).toInt)
    // Driver-memory bound of the model collect: √N · Dims · 4 B. At
    // 10⁹ docs that is ~32k × 256 B ≈ 8 MB — negligible; it grows as
    // √N and only approaches driver scale around ~10¹² docs (√N ≈ 1M
    // centroids ≈ 256 MB at Dims=64). Guard loudly rather than OOM
    // quietly: past the cap, shard the centroid set (hierarchical /
    // two-level IVF) instead of collecting it.
    require(semCells.toLong * Dims * 4L <= (1L << 28),
      s"qSemDedup centroid model ($semCells cells × $Dims floats = " +
        s"${semCells.toLong * Dims * 4L} B) exceeds the 256 MB driver " +
        "collect bound — corpus is past ~10^12 docs; use a two-level " +
        "(sharded) centroid assignment instead of a driver collect")
    val centroids: Array[Array[Float]] = emb.filter($"vec_id" < semCells)
      .orderBy($"vec_id").select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val corpus = emb.select($"vec_id", $"embedding",
      nearestCentroid($"embedding", centroids).as("cell"))
      .transform(graft.functions.Cp.local)
    // corpus-grown both sides: merge join on the cell key
    val dropped = corpus.as("a")
      .join(corpus.as("b").hint("merge"),
        $"a.cell" === $"b.cell" && $"a.vec_id" < $"b.vec_id" &&
          cosineFast($"a.embedding", $"b.embedding") > SemTau)
      .select($"b.cell".as("cell"), $"b.vec_id".as("vec_id"))
      .distinct()
    corpus.select($"cell", $"vec_id")
      .join(dropped.withColumn("dropped", lit(1L)).hint("merge"),
        Seq("cell", "vec_id"), "left")
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(coalesce($"dropped", lit(0L))).as("n_dropped"),
        coalesce(bit_xor(when($"dropped" === 1L,
          expr("vec_id * 1000003"))), lit(0L)).as("dropped_checksum"),
        coalesce(bit_xor(when($"dropped".isNull, $"vec_id")), lit(0L))
          .as("kept_checksum"))
      .orderBy($"cell".asc)
  }

  /** IVF with k-means-TRAINED centroids — the production configuration
    * ([[qAnnIvf]] pins centroids to the first corpus vectors only so
    * the DuckDB oracle can mirror them literally). Training is
    * [[graft.functions.VectorAgg.trainIvfCentroids]]: `iters` narrow
    * Lloyd passes whose only driver traffic is the Cells × Dims model;
    * the search shape is identical. */
  def annIvfTrained(s: SparkSession, d: String, iters: Int = 3): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val centroids = graft.functions.VectorAgg
      .trainIvfCentroids(emb, Cells, Dims, iters)
    ivfSearch(s, emb, centroids)
  }

  /** Gate entry for the trained path. No SQL oracle — 3 Lloyd rounds of
    * per-cell means are not reasonably SQL-expressible — so it sits in
    * the declared rows-only set; training is bit-deterministic
    * ([[graft.functions.VectorAgg.cellCentroidsExact]]) and the spec
    * suite asserts recall@K ≥ the pinned-centroid q_ann_ivf
    * (SURVEY §6). */
  def qAnnIvfTrained(s: SparkSession, d: String): DataFrame =
    annIvfTrained(s, d)

  /** IVF-PQ search — the ~21× memory path ([[graft.functions.Pq]]):
    * same pinned coarse centroids and probe shape as [[qAnnIvf]], but
    * candidates are scored from m-byte PQ codes via per-query lookup
    * tables (ADC), never from the float vectors. Library path, no SQL
    * oracle (codeword training is k-means, like the trained IVF);
    * PqSpec gates recall against the full-precision IVF and checks
    * train determinism + code-size accounting. */
  def annIvfPq(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    val centroids: Array[Array[Float]] = emb.filter($"vec_id" < Cells)
      .orderBy($"vec_id").select($"embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val model = graft.functions.Pq.train(emb, centroids, Dims,
      m = 16, ks = 64)
    val encoded = graft.functions.Pq.encode(emb, centroids, model)
    graft.functions.Pq.search(emb, encoded, centroids, model,
      NQueries, K, NProbe, reRank = 4 * K)
  }

  /** Brute KNN over int8-quantized embeddings — the 4×-smaller
    * memory/shuffle variant of [[qKnnBrute]] (quantize at write time,
    * search the codes). Library path, no oracle: round() inside the
    * quantizer is a double→int boundary DuckDB can't be made bit-exact
    * on; the spec instead measures recall against full precision. */
  def knnQuantized(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.Quantize
    val emb = Tables.embeddings(s, d).select($"vec_id",
      Quantize.dequantizeInt8(Quantize.quantizeInt8($"embedding"))
        .cast("array<float>").as("qemb"))
    val q = emb.filter($"vec_id" < NQueries)
      .select($"vec_id".as("query_id"), $"qemb".as("qv"))
    val scored = broadcast(q)
      .join(emb, $"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor_id"),
        cosineFast($"qv", $"qemb").as("cos"))
    val w = Window.partitionBy($"query_id").orderBy($"cos".desc, $"neighbor_id".asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= K)
      .select($"query_id", $"neighbor_id", $"rank".cast("long").as("rank"),
        round($"cos", 6).as("cos"))
  }

  /** Recall@K of the LSH ANN path against brute force, AS DATA — the
    * quality knob measured inside the engine (run it per corpus drop to
    * decide whether Planes needs retuning). Left join so queries with
    * zero recovered neighbors still report. */
  def qAnnRecall(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val brute = qKnnBrute(s, d).select($"query_id", $"neighbor_id")
    val lsh = qAnnLsh(s, d).select($"query_id", $"neighbor_id")
      .withColumn("hit", lit(1L))
    brute.join(lsh, Seq("query_id", "neighbor_id"), "left")
      .groupBy($"query_id")
      .agg(sum(coalesce($"hit", lit(0L))).as("hits"))
      .select($"query_id", $"hits",
        round($"hits" / lit(K.toDouble), 6).as("recall"))
  }

  private val RrfConst = 60L  // standard RRF dampening constant
  private val RrfPool = 100   // per-ranker candidate depth
  private val RrfTerm = "query"
  private val RrfTopK = 20

  /** HYBRID RETRIEVAL FUSION — reciprocal rank fusion (RRF) of a
    * keyword ranker and a vector ranker, the standard hybrid-search
    * combiner: score(d) = Σᵣ 1/(60 + rankᵣ(d)) over the rankers that
    * retrieved d, here as the integer 10⁹ div (60 + rank) surrogate so
    * fusion is bit-exact. Ranker 1 is term frequency of a fixed
    * keyword (the BM25 stand-in); ranker 2 is cosine to a fixed query
    * embedding (the ANN stand-in) — production swaps either for its
    * full version, the fusion plan is identical. Scale shape: each
    * ranker reduces the corpus to a top-[[RrfPool]] candidate list via
    * TakeOrderedAndProject (never a global sort), ranks are assigned
    * by a window over those BOUNDED lists (≤100 rows — constant, not
    * data-sized), and the fusion is a full-outer join of two 100-row
    * sets. Every cut carries a unique tie-break. */
  def qRrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.TextFunctions.tokens
    val kwPool = Tables.documents(s, d)
      .select($"doc_id",
        size(filter(tokens($"text"), t => t === RrfTerm)).cast("long").as("tf"))
      .filter($"tf" > 0)
      .orderBy($"tf".desc, $"doc_id".asc).limit(RrfPool)
    val kwRank = kwPool.withColumn("rank_kw",
      row_number().over(Window.orderBy($"tf".desc, $"doc_id".asc)).cast("long"))
    val emb = Tables.embeddings(s, d)
    val qv = emb.filter($"vec_id" === 0).select($"embedding".as("qv"))
    val vecPool = emb.crossJoin(broadcast(qv)).filter($"vec_id" =!= 0)
      .select($"vec_id".as("doc_id"), cosineFast($"qv", $"embedding").as("cos"))
      .orderBy($"cos".desc, $"doc_id".asc).limit(RrfPool)
    val vecRank = vecPool.withColumn("rank_vec",
      row_number().over(Window.orderBy($"cos".desc, $"doc_id".asc)).cast("long"))
    kwRank.select($"doc_id", $"rank_kw")
      .join(vecRank.select($"doc_id", $"rank_vec"), Seq("doc_id"), "full_outer")
      .withColumn("rrf_e9",
        coalesce(expr(s"1000000000 DIV ($RrfConst + rank_kw)"), lit(0L)) +
          coalesce(expr(s"1000000000 DIV ($RrfConst + rank_vec)"), lit(0L)))
      .select($"doc_id",
        coalesce($"rank_kw", lit(0L)).as("rank_kw"),
        coalesce($"rank_vec", lit(0L)).as("rank_vec"),
        $"rrf_e9")
      .orderBy($"rrf_e9".desc, $"doc_id".asc)
      .limit(RrfTopK)
  }

  private val MmrQueries = 8 // bounded query set for the MMR rerank
  private val MmrPool = 8    // relevance pool per query
  private val MmrK = 3       // diversified picks per query

  /** MMR DIVERSIFIED RERANK (Carbonell & Goldstein 1998, maximal
    * marginal relevance) — the retrieval-diversity verb RAG pipelines
    * run after ANN: from each query's top-[[MmrPool]] relevance pool,
    * greedily pick [[MmrK]] results maximizing λ·rel − (1−λ)·max
    * similarity-to-already-picked, with λ = 2/3 cleared of fractions
    * as the all-BIGINT score 2·rel6 − maxsim6. Cosines become exact
    * integers via the proven 6-dp recipe (round → DECIMAL(10,6) →
    * ·10⁶), so every greedy decision is integer arithmetic with a
    * vec_id tie-break — bit-reproducible on any engine or
    * partitioning. The greedy loop is unrolled: round 1 is argmax
    * rel6; each later round joins the remaining pool against the
    * picked set's pairwise sims (computed once, pool×pool per query)
    * and takes the window max — all windows PARTITIONED by query_id.
    * The oracle replays the identical rounds as chained CTEs. Output
    * flags `in_rel_top3` so the diversity effect (picks ∉ plain
    * relevance top-k) is visible in the gated result. Scale shape:
    * one broadcast of the bounded query set, one corpus scan for the
    * pools (TakeOrdered-equivalent via partitioned window), then
    * everything is pool-sized (queries × pool²). */
  def qMmr(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def e6(c: Column): Column =
      (round(c, 6).cast("decimal(10,6)") * lit(1000000)).cast("long")
    val emb = Tables.embeddings(s, d)
    val q = emb.filter($"vec_id" < MmrQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qv"))
    val wRel = Window.partitionBy($"query_id")
      .orderBy($"rel6".desc, $"vec_id".asc)
    val pool = broadcast(q)
      .join(emb, $"vec_id" >= MmrQueries) // queries never in their own pool
      .select($"query_id", $"vec_id", $"embedding",
        e6(cosineFast($"qv", $"embedding")).as("rel6"))
      .withColumn("rel_rank", row_number().over(wRel).cast("long"))
      .filter($"rel_rank" <= MmrPool)
      .transform(graft.functions.Cp.local) // pool reused by sims + rounds
    val sims = pool.as("a")
      .join(pool.select($"query_id", $"vec_id", $"embedding").as("b"),
        $"a.query_id" === $"b.query_id" && $"a.vec_id" =!= $"b.vec_id")
      .select($"a.query_id".as("sq"), $"a.vec_id".as("va"),
        $"b.vec_id".as("vb"),
        e6(cosineFast($"a.embedding", $"b.embedding")).as("sim6"))
      .transform(graft.functions.Cp.local) // reused by every greedy round
    val slim = pool.select($"query_id", $"vec_id", $"rel6", $"rel_rank")
    val first = slim.filter($"rel_rank" === 1) // wRel order = pick order
      .select($"query_id", $"vec_id", $"rel6", $"rel_rank",
        ($"rel6" * 2).as("mmr6"), lit(1L).as("pick_rank"))
    val picks = (2 to MmrK).foldLeft(first) { (acc, r) =>
      val picked = acc.select($"query_id".as("pq"), $"vec_id".as("pv"))
      val pen = sims
        .join(picked, $"sq" === $"pq" && $"vb" === $"pv")
        .groupBy($"sq", $"va").agg(max($"sim6").as("pen6"))
        .select($"sq".as("cq"), $"va".as("cv"), $"pen6")
      val rem = slim.join(picked,
        $"query_id" === $"pq" && $"vec_id" === $"pv", "left_anti")
      val wM = Window.partitionBy($"query_id")
        .orderBy($"mmr6".desc, $"vec_id".asc)
      acc.unionByName(rem
        .join(pen, $"query_id" === $"cq" && $"vec_id" === $"cv")
        .withColumn("mmr6", $"rel6" * 2 - $"pen6")
        .withColumn("rk", row_number().over(wM))
        .filter($"rk" === 1)
        .select($"query_id", $"vec_id", $"rel6", $"rel_rank",
          $"mmr6", lit(r.toLong).as("pick_rank")))
    }
    picks.select($"query_id", $"pick_rank", $"vec_id", $"rel6", $"mmr6",
      ($"rel_rank" <= MmrK).cast("long").as("in_rel_top3"))
      .orderBy($"query_id".asc, $"pick_rank".asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_mmr" -> (qMmr _),
    "q_rrf" -> (qRrf _),
    "q_embedding_stats" -> (qEmbeddingStats _),
    "q_centroid_shift" -> (qCentroidShift _),
    "q_knn_brute" -> (qKnnBrute _),
    "q_knn_classify" -> (qKnnClassify _),
    "q_cluster_purity" -> (qClusterPurity _),
    "q_embed_neardup" -> (qEmbedNearDup _),
    "q_semdedup" -> (qSemDedup _),
    "q_neardup_lsh" -> (qNearDupLsh _),
    "q_mutual_nn" -> (qMutualNn _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_ann_recall" -> (qAnnRecall _),
    "q_ann_multiprobe" -> (qAnnMultiProbe _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ann_ivf_store" -> (qAnnIvfStore _),
    "q_ann_ivf_trained" -> (qAnnIvfTrained _),
    "q_ann_graph" -> (qAnnGraph _),
    "q_ann_graph_store" -> (qAnnGraphStore _),
    "q_ann_graph_ingest" -> (qAnnGraphIngest _),
    "q_graph_stats" -> (qGraphStats _)
  )

  /** Oracle for [[qMmr]]: identical greedy rounds as chained
    * MATERIALIZED CTEs (the unrolled-rounds rule — plain CTEs would
    * re-inline the pool build per round). */
  private lazy val mmrSql: String = {
    def c6(a: String, b: String) =
      s"CAST(CAST(ROUND(list_cosine_similarity($a, $b), 6) " +
        s"AS DECIMAL(10,6)) * 1000000 AS BIGINT)"
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       |  FROM embeddings),
       |pool AS MATERIALIZED (
       |  SELECT query_id, vec_id, rel6, CAST(rel_rank AS BIGINT)
       |    AS rel_rank FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
       |      ${c6("q.v", "c.v")} AS rel6,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id
       |        ORDER BY ${c6("q.v", "c.v")} DESC, c.vec_id ASC)
       |        AS rel_rank
       |    FROM e q JOIN e c ON c.vec_id >= $MmrQueries
       |    WHERE q.vec_id < $MmrQueries) t
       |  WHERE rel_rank <= $MmrPool),
       |sims AS MATERIALIZED (
       |  SELECT a.query_id AS sq, a.vec_id AS va, b.vec_id AS vb,
       |    ${c6("ea.v", "eb.v")} AS sim6
       |  FROM pool a JOIN pool b
       |    ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
       |  JOIN e ea ON ea.vec_id = a.vec_id
       |  JOIN e eb ON eb.vec_id = b.vec_id),
       |p1 AS MATERIALIZED (SELECT query_id, vec_id, rel6, rel_rank,
       |    rel6 * 2 AS mmr6, CAST(1 AS BIGINT) AS pick_rank
       |  FROM pool WHERE rel_rank = 1),
       |pen2 AS (SELECT s.sq AS query_id, s.va AS vec_id,
       |    MAX(s.sim6) AS pen6
       |  FROM sims s JOIN p1 ON s.sq = p1.query_id AND s.vb = p1.vec_id
       |  WHERE NOT EXISTS (SELECT 1 FROM p1 x
       |    WHERE x.query_id = s.sq AND x.vec_id = s.va)
       |  GROUP BY 1, 2),
       |p2 AS MATERIALIZED (SELECT query_id, vec_id, rel6, rel_rank,
       |    mmr6, CAST(2 AS BIGINT) AS pick_rank FROM (
       |  SELECT c.query_id, c.vec_id, c.rel6, c.rel_rank,
       |    c.rel6 * 2 - p.pen6 AS mmr6,
       |    ROW_NUMBER() OVER (PARTITION BY c.query_id
       |      ORDER BY c.rel6 * 2 - p.pen6 DESC, c.vec_id ASC) AS rk
       |  FROM pool c JOIN pen2 p
       |    ON c.query_id = p.query_id AND c.vec_id = p.vec_id) t
       |  WHERE rk = 1),
       |pk2 AS MATERIALIZED (SELECT query_id, vec_id FROM p1
       |  UNION ALL SELECT query_id, vec_id FROM p2),
       |pen3 AS (SELECT s.sq AS query_id, s.va AS vec_id,
       |    MAX(s.sim6) AS pen6
       |  FROM sims s JOIN pk2 ON s.sq = pk2.query_id
       |    AND s.vb = pk2.vec_id
       |  WHERE NOT EXISTS (SELECT 1 FROM pk2 x
       |    WHERE x.query_id = s.sq AND x.vec_id = s.va)
       |  GROUP BY 1, 2),
       |p3 AS MATERIALIZED (SELECT query_id, vec_id, rel6, rel_rank,
       |    mmr6, CAST(3 AS BIGINT) AS pick_rank FROM (
       |  SELECT c.query_id, c.vec_id, c.rel6, c.rel_rank,
       |    c.rel6 * 2 - p.pen6 AS mmr6,
       |    ROW_NUMBER() OVER (PARTITION BY c.query_id
       |      ORDER BY c.rel6 * 2 - p.pen6 DESC, c.vec_id ASC) AS rk
       |  FROM pool c JOIN pen3 p
       |    ON c.query_id = p.query_id AND c.vec_id = p.vec_id) t
       |  WHERE rk = 1)
       |SELECT query_id, pick_rank, vec_id, rel6, mmr6,
       |  CAST(CASE WHEN rel_rank <= $MmrK THEN 1 ELSE 0 END AS BIGINT)
       |    AS in_rel_top3
       |FROM (SELECT * FROM p1 UNION ALL SELECT * FROM p2
       |  UNION ALL SELECT * FROM p3) u
       |ORDER BY query_id ASC, pick_rank ASC""".stripMargin
  }

  private lazy val knnBruteSql =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
      |SELECT query_id, neighbor_id, rank, cos FROM (
      |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
      |  ROW_NUMBER() OVER (PARTITION BY q.vec_id
      |    ORDER BY list_cosine_similarity(q.v, c.v) DESC, c.vec_id ASC) AS rank,
      |  ROUND(list_cosine_similarity(q.v, c.v), 6) AS cos
      |  FROM e q JOIN e c ON c.vec_id <> q.vec_id
      |  WHERE q.vec_id < 20) t
      |WHERE rank <= 5""".stripMargin

  private lazy val annLshSql =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |b AS (SELECT vec_id, v, ${sqlBucketExpr("v", 0)} AS bucket FROM e),
       |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < $NQueries)
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |  ROW_NUMBER() OVER (PARTITION BY q.query_id
       |    ORDER BY list_cosine_similarity(q.qv, c.v) DESC, c.vec_id ASC) AS rank,
       |  ROUND(list_cosine_similarity(q.qv, c.v), 6) AS cos
       |  FROM q JOIN b c ON q.bucket = c.bucket AND c.vec_id <> q.query_id) t
       |WHERE rank <= $K""".stripMargin

  /** Shared DuckDB mirror of [[nearDupLshOf]] — the full MaxPlanes-bit
    * bucket expression masked down to the ladder-chosen width:
    * identical to Spark's bucket built from the first `planes`
    * hyperplanes (prefix property, LshScaleSpec). Consumed by
    * `q_neardup_lsh` and as `q_mutual_nn`'s candidate prelude. */
  private lazy val neardupLshSql: String = {
    val cap = LshParams.BucketCap
    val ctes = (0 until NdTables).map(t =>
      s"""bkt$t AS (SELECT vec_id, v,
         |  (${sqlBucketExpr("v", t, LshParams.MaxPlanes)}
         |   & ((CAST(1 AS BIGINT) << planes) - 1)) AS bucket
         |  FROM e CROSS JOIN p),
         |st$t AS (SELECT vec_id, v, bucket,
         |  COUNT(*) OVER (PARTITION BY bucket) AS f,
         |  MIN(vec_id) OVER (PARTITION BY bucket) AS bmin FROM bkt$t)""".stripMargin)
    val arms = (0 until NdTables).map(t =>
      s"""SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
         |FROM st$t a JOIN st$t b
         |ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |AND (a.f <= $cap OR a.vec_id = a.bmin)
         |WHERE list_cosine_similarity(a.v, b.v) > 0.4""".stripMargin)
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT COUNT(*) AS cnt FROM e),
       |p AS (SELECT ${LshParams.ladderSql("cnt")} AS planes FROM n),
       |${ctes.mkString(",\n")}
       |${arms.mkString("\nUNION\n")}""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    "q_rrf" ->
      s"""WITH kw AS (SELECT doc_id,
         |  CAST(len(list_filter(string_split(text,' '),
         |    x -> x = '$RrfTerm')) AS BIGINT) AS tf FROM documents),
         |kp AS (SELECT doc_id, tf FROM kw WHERE tf > 0
         |  ORDER BY tf DESC, doc_id ASC LIMIT $RrfPool),
         |kr AS (SELECT doc_id, ROW_NUMBER() OVER
         |  (ORDER BY tf DESC, doc_id ASC) AS rank_kw FROM kp),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
         |vp AS (SELECT vec_id AS doc_id,
         |  list_cosine_similarity(qv, v) AS cos
         |  FROM e CROSS JOIN q WHERE vec_id <> 0
         |  ORDER BY cos DESC, doc_id ASC LIMIT $RrfPool),
         |vr AS (SELECT doc_id, ROW_NUMBER() OVER
         |  (ORDER BY cos DESC, doc_id ASC) AS rank_vec FROM vp),
         |f AS (SELECT COALESCE(kr.doc_id, vr.doc_id) AS doc_id,
         |  rank_kw, rank_vec
         |  FROM kr FULL OUTER JOIN vr ON kr.doc_id = vr.doc_id)
         |SELECT doc_id,
         |  COALESCE(rank_kw, 0) AS rank_kw,
         |  COALESCE(rank_vec, 0) AS rank_vec,
         |  COALESCE(1000000000 // ($RrfConst + rank_kw), 0)
         |  + COALESCE(1000000000 // ($RrfConst + rank_vec), 0) AS rrf_e9
         |FROM f ORDER BY rrf_e9 DESC, doc_id ASC LIMIT $RrfTopK""".stripMargin,
    "q_centroid_shift" ->
      """WITH e AS (SELECT label, vec_id % 2 AS half,
        |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |comp AS (SELECT label, half, dim - 1 AS dim,
        |  CAST(CAST(ROUND(v[dim], 9) AS DECIMAL(20,9)) * 1000000000
        |    AS BIGINT) AS xe9
        |  FROM e CROSS JOIN LATERAL
        |    (SELECT unnest(generate_series(1, len(v))) AS dim) t),
        |cent AS (SELECT label, half, dim, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(xe9) AS HUGEINT) AS se9 FROM comp GROUP BY 1, 2, 3),
        |m AS (SELECT label, half, dim, n,
        |  CAST((se9 + 1000000000000 * CAST(n AS HUGEINT)) // n AS BIGINT)
        |    AS mean_e9
        |  FROM cent),
        |j AS (SELECT a.label, a.dim, a.n AS n_a, b.n AS n_b,
        |  CAST(a.mean_e9 AS HUGEINT) - b.mean_e9 AS dd
        |  FROM m a JOIN m b ON a.label = b.label AND a.dim = b.dim
        |  AND a.half = 0 AND b.half = 1)
        |SELECT label, MAX(n_a) AS n_a, MAX(n_b) AS n_b,
        |  ROUND(sqrt(CAST(SUM(dd * dd) AS DOUBLE)) / 1e9, 9) AS l2_shift
        |FROM j GROUP BY 1""".stripMargin,
    "q_embedding_stats" -> {
      import graft.functions.Det.sqlSum12
      s"""WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
         |SELECT label, COUNT(*) AS n,
         |ROUND(${sqlSum12("ROUND(sqrt(list_sum(list_transform(v, x -> x*x))), 9)")}
         |  / COUNT(*), 9) AS avg_norm,
         |ROUND(${sqlSum12("ROUND(v[1], 9)")} / COUNT(*), 9) AS avg_first
         |FROM e GROUP BY label""".stripMargin
    },
    "q_knn_brute" -> knnBruteSql,
    "q_knn_classify" ->
      s"""WITH e AS (SELECT vec_id, label,
         |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id,
         |  CAST(label AS BIGINT) AS true_label, v AS qv
         |  FROM e WHERE vec_id < $EvalQueries),
         |c AS (SELECT vec_id, CAST(label AS BIGINT) AS pred_label, v
         |  FROM e WHERE vec_id >= $EvalQueries),
         |nn AS (SELECT query_id, true_label, pred_label FROM (
         |  SELECT q.query_id, q.true_label, c.pred_label,
         |    ROW_NUMBER() OVER (PARTITION BY q.query_id
         |      ORDER BY list_cosine_similarity(q.qv, c.v) DESC,
         |               c.vec_id ASC) AS rank
         |  FROM q CROSS JOIN c) t WHERE rank <= $ClassK),
         |vote AS (SELECT query_id, true_label, pred_label,
         |  COUNT(*) AS votes FROM nn GROUP BY 1, 2, 3),
         |pick AS (SELECT query_id, true_label, pred_label FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY votes DESC, pred_label ASC) AS rk FROM vote) t
         |  WHERE rk = 1)
         |SELECT true_label, CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(CASE WHEN pred_label = true_label
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |  CAST(SUM(CASE WHEN pred_label = true_label
         |    THEN 1 ELSE 0 END) AS BIGINT) * 1000000000 // COUNT(*)
         |    AS acc_e9,
         |  bit_xor(xor(xor(query_id * 1000003, pred_label * 8191),
         |    true_label)) AS confusion_checksum
         |FROM pick GROUP BY 1""".stripMargin,
    "q_cluster_purity" ->
      s"""WITH e AS (SELECT vec_id, label,
         |  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT CAST(vec_id + 1 AS INT) AS cell, v AS cv
         |  FROM e WHERE vec_id <
         |    (SELECT GREATEST($Cells, CAST(ceil(sqrt(COUNT(*)))
         |      AS BIGINT)) FROM e)),
         |corpus AS MATERIALIZED (SELECT vec_id,
         |  CAST(label AS BIGINT) AS label,
         |  CASE WHEN isnan(cos) THEN 0 ELSE cell END AS cell FROM (
         |  SELECT e.vec_id, e.label, c.cell,
         |  list_cosine_similarity(e.v, c.cv) AS cos,
         |  ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY CASE WHEN isnan(list_cosine_similarity(e.v, c.cv))
         |      THEN 1 ELSE 0 END ASC,
         |      list_cosine_similarity(e.v, c.cv) DESC,
         |      c.cell ASC) AS rn
         |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
         |votes AS (SELECT cell, label, COUNT(*) AS votes
         |  FROM corpus GROUP BY 1, 2),
         |tot AS (SELECT cell, CAST(SUM(votes) AS BIGINT) AS n_vecs
         |  FROM votes GROUP BY 1),
         |pick AS (SELECT cell, label AS maj_label,
         |  CAST(votes AS BIGINT) AS maj_votes FROM (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY cell
         |    ORDER BY votes DESC, label ASC) AS rk FROM votes) t
         |  WHERE rk = 1),
         |cs AS (SELECT p.cell, p.maj_label, p.maj_votes, t.n_vecs,
         |  p.maj_votes * 1000000000 // t.n_vecs AS purity_e9
         |  FROM pick p JOIN tot t USING (cell))
         |SELECT purity_e9 // 100000000 AS purity_bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_cells,
         |  CAST(SUM(n_vecs) AS BIGINT) AS n_vecs,
         |  CAST(SUM(maj_votes) AS BIGINT) AS n_majority,
         |  bit_xor(xor(CAST(cell AS BIGINT) * 1000003, maj_label))
         |    AS cell_checksum
         |FROM cs GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_mmr" -> mmrSql,
    "q_ann_recall" ->
      s"""WITH brute AS (SELECT query_id, neighbor_id FROM ($knnBruteSql) kb),
         |lshq AS (SELECT query_id, neighbor_id FROM ($annLshSql) al)
         |SELECT b.query_id,
         |CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |  AS hits,
         |ROUND(CAST(SUM(CASE WHEN l.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
         |  AS BIGINT) / ${K.toDouble}, 6) AS recall
         |FROM brute b LEFT JOIN lshq l
         |ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
         |GROUP BY b.query_id""".stripMargin,
    "q_embed_neardup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        |  WHERE vec_id < $BruteSlice)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |ROUND(list_cosine_similarity(a.v, b.v), 6) AS cos
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.v, b.v) > 0.4""".stripMargin,
    "q_semdedup" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |cent AS (SELECT CAST(vec_id + 1 AS INT) AS cell, v AS cv
         |  FROM e WHERE vec_id <
         |    (SELECT GREATEST($Cells, CAST(ceil(sqrt(COUNT(*)))
         |      AS BIGINT)) FROM e)),
         |corpus AS MATERIALIZED (SELECT vec_id, v, cell FROM (
         |  SELECT e.vec_id, e.v, c.cell,
         |  ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_cosine_similarity(e.v, c.cv) DESC,
         |      c.cell ASC) AS rn
         |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
         |dr AS (SELECT DISTINCT b.cell, b.vec_id
         |  FROM corpus a JOIN corpus b
         |  ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE list_cosine_similarity(a.v, b.v) > $SemTau),
         |fl AS (SELECT c.cell, c.vec_id,
         |  CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS dropped
         |  FROM corpus c LEFT JOIN dr d
         |  ON c.cell = d.cell AND c.vec_id = d.vec_id)
         |SELECT cell, COUNT(*) AS n_vecs,
         |CAST(SUM(dropped) AS BIGINT) AS n_dropped,
         |COALESCE(bit_xor(CASE WHEN dropped = 1
         |  THEN vec_id * 1000003 END), 0) AS dropped_checksum,
         |COALESCE(bit_xor(CASE WHEN dropped = 0 THEN vec_id END), 0)
         |  AS kept_checksum
         |FROM fl GROUP BY 1 ORDER BY 1 ASC""".stripMargin,
    "q_neardup_lsh" -> neardupLshSql,
    "q_mutual_nn" ->
      s"""WITH nd AS MATERIALIZED ($neardupLshSql),
         |cp AS (SELECT
         |  CASE WHEN vec_a % 2 = 0 THEN vec_a ELSE vec_b END AS a,
         |  CASE WHEN vec_a % 2 = 0 THEN vec_b ELSE vec_a END AS b, cos
         |  FROM nd WHERE vec_a % 2 <> vec_b % 2),
         |r AS (SELECT a, b, cos,
         |  COUNT(*) OVER (PARTITION BY a) AS cand_a,
         |  COUNT(*) OVER (PARTITION BY b) AS cand_b,
         |  ROW_NUMBER() OVER (PARTITION BY a
         |    ORDER BY cos DESC, b ASC) AS ra,
         |  ROW_NUMBER() OVER (PARTITION BY b
         |    ORDER BY cos DESC, a ASC) AS rb
         |  FROM cp)
         |SELECT a AS id_even, b AS id_odd, cos,
         |CAST(cand_a AS BIGINT) AS cand_a,
         |CAST(cand_b AS BIGINT) AS cand_b
         |FROM r WHERE ra = 1 AND rb = 1 ORDER BY 1 ASC""".stripMargin,
    "q_ann_lsh" -> annLshSql,
    "q_ann_multiprobe" -> {
      val probeList = (0L +: (0 until AnnPlanes).map(p => 1L << p)).mkString(", ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |b AS (SELECT vec_id, v, ${sqlBucketExpr("v", 0)} AS bucket FROM e),
         |q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM b WHERE vec_id < $NQueries),
         |probes AS (SELECT query_id, qv, xor(bucket, pb) AS bucket
         |  FROM q CROSS JOIN (SELECT unnest([$probeList]) AS pb)),
         |scored AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id,
         |  list_cosine_similarity(p.qv, c.v) AS rawcos
         |  FROM probes p JOIN b c ON p.bucket = c.bucket AND c.vec_id <> p.query_id)
         |SELECT query_id, neighbor_id, rank, cos FROM (
         |  SELECT query_id, neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY rawcos DESC, neighbor_id ASC) AS rank,
         |  ROUND(rawcos, 6) AS cos FROM scored) t
         |WHERE rank <= $K""".stripMargin
    },
    "q_ann_ivf" -> annIvfSql,
    // the store variant is result-identical by construction: the
    // persisted cell assignment is the same pinned-centroid argmax the
    // in-session form computes, so ONE oracle proves both
    "q_ann_ivf_store" -> annIvfSql,
    "q_ann_graph" -> annGraphSql,
    // deterministic edge build → the persisted adjacency is row-identical
    // to the in-session one, so one oracle proves both walks
    "q_ann_graph_store" -> annGraphSql,
    "q_ann_graph_ingest" -> annGraphIngestSql,
    // SUM(BIGINT) widens to HUGEINT in DuckDB — cast back (CLAUDE.md)
    "q_graph_stats" ->
      s"""WITH $graphEdgeCtes,
         |recip AS (SELECT a.src, COUNT(*) AS n_recip
         |  FROM edges a JOIN edges r ON r.src = a.dst AND r.dst = a.src
         |  GROUP BY a.src),
         |deg AS (SELECT src, COUNT(*) AS degree FROM edges GROUP BY src)
         |SELECT d.degree, COUNT(*) AS n_nodes,
         |  CAST(COALESCE(SUM(r.n_recip), 0) AS BIGINT) AS n_recip_edges,
         |  bit_xor(d.src * 1000003) AS node_checksum
         |FROM deg d LEFT JOIN recip r ON r.src = d.src
         |GROUP BY d.degree ORDER BY d.degree ASC""".stripMargin
  )

  /** Shared oracle CTE block for the rep-grain neighbor-graph BUILD
    * (e → reps → ladder width → masked buckets → H1 probes → candidate
    * pairs → degree-capped + diversity-slotted edges) — the exact
    * mirror of [[graphEdgesOf]], reused by [[annGraphSql]] and the
    * graph-stats census. */
  private lazy val graphEdgeCtes: String = graphEdgeCtesOver("embeddings")

  /** [[graphEdgeCtes]] with the vector source parameterized (a table
    * name or derived-table subquery) so the ingest oracle can build
    * the BASE graph over the standing corpus slice. */
  private def graphEdgeCtesOver(embSrc: String): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM $embSrc),
       |reps AS MATERIALIZED (SELECT MIN(vec_id) AS vec_id, v
       |  FROM e GROUP BY v),
       |n AS (SELECT COUNT(*) AS cnt FROM reps),
       |p AS (SELECT ${LshParams.ladderSql("cnt")} AS planes FROM n),
       |b AS MATERIALIZED (SELECT vec_id,
       |  (${sqlBucketExpr("v", 0, LshParams.MaxPlanes)}
       |   & ((CAST(1 AS BIGINT) << planes) - 1)) AS bucket
       |  FROM reps CROSS JOIN p),
       |pr AS (SELECT vec_id, bucket FROM b
       |  UNION ALL
       |  SELECT b.vec_id, xor(b.bucket, (CAST(1 AS BIGINT) << f.i)) AS bucket
       |  FROM b CROSS JOIN p
       |  CROSS JOIN generate_series(0, ${LshParams.MaxPlanes - 1}) AS f(i)
       |  WHERE f.i < p.planes),
       |cand AS MATERIALIZED (
       |  SELECT DISTINCT pr.vec_id AS src, t.vec_id AS dst
       |  FROM pr JOIN b t ON t.bucket = pr.bucket AND t.vec_id <> pr.vec_id),
       |edges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst,
       |      DENSE_RANK() OVER (PARTITION BY src
       |        ORDER BY cos DESC, dst ASC) AS rk,
       |      DENSE_RANK() OVER (PARTITION BY src
       |        ORDER BY cos_div DESC NULLS LAST, dst ASC) AS rk_div,
       |      cos_div
       |    FROM (
       |      SELECT c.src, c.dst, list_cosine_similarity(s.v, t.v) AS cos,
       |        CASE WHEN list_cosine_similarity(s.v, t.v) <= $GraphDivTau
       |          THEN list_cosine_similarity(s.v, t.v) END AS cos_div
       |      FROM cand c JOIN e s ON s.vec_id = c.src
       |      JOIN e t ON t.vec_id = c.dst) y) z
       |  WHERE rk <= $GraphM
       |    OR (cos_div IS NOT NULL AND rk_div <= $GraphDivSlots))""".stripMargin

  /** Oracle for [[qAnnGraph]]: the edge build via the masked
    * MaxPlanes-bit bucket + ladder width (the ndStatsSql idiom) with
    * per-plane H1 probes from a lateral generate_series, then each beam
    * hop unrolled as MATERIALIZED CTEs (the unrolled-rounds rule). */
  private lazy val annGraphSql: String = {
    val rounds = walkRoundsSql("", "edges", "e", "q")
    s"""WITH $graphEdgeCtes,
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $NQueries),
       |v0 AS MATERIALIZED (
       |  SELECT q.query_id, t.vec_id, list_cosine_similarity(q.qv, t.v) AS cos
       |  FROM q CROSS JOIN (SELECT MIN(vec_id) AS vec_id, v FROM e
       |    WHERE vec_id < $GraphEntries GROUP BY v) t),
       |$rounds
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT x.query_id, m.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY x.query_id
       |      ORDER BY x.cos DESC, m.vec_id ASC) AS rank,
       |    ROUND(x.cos, 6) AS cos
       |  FROM v$GraphHops x
       |  JOIN e rv ON rv.vec_id = x.vec_id
       |  JOIN e m ON m.v = rv.v
       |  WHERE m.vec_id <> x.query_id) z
       |WHERE rank <= $K""".stripMargin
  }

  /** The unrolled beam-walk rounds (the [[annGraphSql]] hop pattern)
    * parameterized over CTE names so one builder serves the plain
    * walk, the ingest oracle's INSERTION walk, and its final probe
    * walk: `pre` prefixes the per-round CTE names (b/c/v), `edgesCte`
    * is the adjacency, `vecCte` resolves candidate ids to vectors
    * (always a corpus-id-keyed frame — every reachable id is a corpus
    * id), `qCte` the (query_id, qv) set. Round 0 (the pre-prefixed v0
    * CTE) is supplied by the caller. */
  private def walkRoundsSql(pre: String, edgesCte: String, vecCte: String,
                            qCte: String): String =
    (1 to GraphHops).map { r =>
      s"""${pre}b$r AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, ROW_NUMBER() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, vec_id ASC) AS rk FROM ${pre}v${r - 1}) z
         |  WHERE rk <= $GraphBeam),
         |${pre}c$r AS (SELECT DISTINCT bm.query_id, ed.dst AS vec_id
         |  FROM ${pre}b$r bm JOIN $edgesCte ed ON ed.src = bm.vec_id
         |  WHERE NOT EXISTS (SELECT 1 FROM ${pre}v${r - 1} x
         |    WHERE x.query_id = bm.query_id AND x.vec_id = ed.dst)),
         |${pre}v$r AS MATERIALIZED (
         |  SELECT * FROM ${pre}v${r - 1}
         |  UNION ALL
         |  SELECT c.query_id, c.vec_id,
         |    list_cosine_similarity(q.qv, t.v) AS cos
         |  FROM ${pre}c$r c JOIN $qCte q ON q.query_id = c.query_id
         |  JOIN $vecCte t ON t.vec_id = c.vec_id)""".stripMargin
    }.mkString(",\n")

  /** Oracle for [[qAnnGraphIngest]] — the full incremental-maintenance
    * path mirrored: base edges over the standing slice
    * ([[graphEdgeCtesOver]]), batch new reps (distinct batch vectors
    * absent from the slice's rep set), the INSERTION beam walk over
    * the base graph (i-prefixed rounds), the build's degree rule
    * selecting forward edges, symmetric back edges, then the PROBE
    * walk over base ∪ inserted edges with full-corpus queries and
    * member re-attachment — identical output shape to [[annGraphSql]].
    * Every hop of both walks is a MATERIALIZED CTE (the
    * unrolled-rounds rule). */
  private lazy val annGraphIngestSql: String = {
    val insertRounds = walkRoundsSql("i", "edges", "e", "iq")
    val probeRounds = walkRoundsSql("", "edges2", "ef", "q")
    s"""WITH ${graphEdgeCtesOver(
           s"(SELECT * FROM embeddings WHERE vec_id % $IngestMod <> $IngestRem)")},
       |ef AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nreps AS MATERIALIZED (
       |  SELECT MIN(b.vec_id) AS vec_id, b.v FROM ef b
       |  WHERE b.vec_id % $IngestMod = $IngestRem
       |    AND NOT EXISTS (SELECT 1 FROM reps n WHERE n.v = b.v)
       |  GROUP BY b.v),
       |iq AS (SELECT vec_id AS query_id, v AS qv FROM nreps),
       |iv0 AS MATERIALIZED (
       |  SELECT iq.query_id, t.vec_id, list_cosine_similarity(iq.qv, t.v) AS cos
       |  FROM iq CROSS JOIN (SELECT vec_id, v FROM reps
       |    WHERE vec_id < $GraphEntries) t),
       |$insertRounds,
       |fwd AS MATERIALIZED (SELECT query_id AS src, vec_id AS dst FROM (
       |  SELECT query_id, vec_id,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, vec_id ASC) AS rk,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY (CASE WHEN cos <= $GraphDivTau THEN cos END)
       |        DESC NULLS LAST, vec_id ASC) AS rk_div,
       |    CASE WHEN cos <= $GraphDivTau THEN cos END AS cos_div
       |  FROM iv$GraphHops) z
       |  WHERE rk <= $GraphM
       |    OR (cos_div IS NOT NULL AND rk_div <= $GraphDivSlots)),
       |edges2 AS MATERIALIZED (
       |  SELECT src, dst FROM edges
       |  UNION ALL SELECT src, dst FROM fwd
       |  UNION ALL SELECT dst AS src, src AS dst FROM fwd),
       |q AS (SELECT vec_id AS query_id, v AS qv FROM ef
       |  WHERE vec_id < $NQueries),
       |v0 AS MATERIALIZED (
       |  SELECT q.query_id, t.vec_id, list_cosine_similarity(q.qv, t.v) AS cos
       |  FROM q CROSS JOIN (SELECT MIN(vec_id) AS vec_id, v FROM ef
       |    WHERE vec_id < $GraphEntries GROUP BY v) t),
       |$probeRounds
       |SELECT query_id, neighbor_id, rank, cos FROM (
       |  SELECT x.query_id, m.vec_id AS neighbor_id,
       |    ROW_NUMBER() OVER (PARTITION BY x.query_id
       |      ORDER BY x.cos DESC, m.vec_id ASC) AS rank,
       |    ROUND(x.cos, 6) AS cos
       |  FROM v$GraphHops x
       |  JOIN ef rv ON rv.vec_id = x.vec_id
       |  JOIN ef m ON m.v = rv.v
       |  WHERE m.vec_id <> x.query_id) z
       |WHERE rank <= $K""".stripMargin
  }

  /** Shared oracle for [[qAnnIvf]] and [[qAnnIvfStore]]. */
  private lazy val annIvfSql: String =
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |cent AS (SELECT CAST(vec_id + 1 AS INT) AS cell, v AS cv FROM e WHERE vec_id < $Cells),
         |corpus AS (SELECT vec_id, v, cell FROM (
         |  SELECT e.vec_id, e.v, c.cell,
         |  ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell ASC) AS rn
         |  FROM e CROSS JOIN cent c) t WHERE rn = 1),
         |qc AS (SELECT query_id, qv, cell FROM (
         |  SELECT e.vec_id AS query_id, e.v AS qv, c.cell,
         |  ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |    ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cell ASC) AS pr
         |  FROM e CROSS JOIN cent c WHERE e.vec_id < $NQueries) t WHERE pr <= $NProbe)
         |SELECT query_id, neighbor_id, rank, cos FROM (
         |  SELECT qc.query_id, co.vec_id AS neighbor_id,
         |  ROW_NUMBER() OVER (PARTITION BY qc.query_id
         |    ORDER BY list_cosine_similarity(qc.qv, co.v) DESC, co.vec_id ASC) AS rank,
         |  ROUND(list_cosine_similarity(qc.qv, co.v), 6) AS cos
         |  FROM qc JOIN corpus co ON co.cell = qc.cell AND co.vec_id <> qc.query_id) t
         |WHERE rank <= $K""".stripMargin
}
