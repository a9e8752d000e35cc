package graftbench

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `ingest`: the standing-store lifecycle, driven through graft's SQL
  * verbs only. Each cycle probes the stores at the fingerprint, LSH
  * band and anchor grains (`incremental_admit`, `neardup_admit`,
  * `span_admit`), appends a half-duplicate, half-novel batch to all
  * five stores (`append_store`), serves ANN probes from the graph and
  * IVF stores (`ann_graph_store`, `ann_ivf_store`), and compacts all
  * five (`compact_store`). The seed picks which standing rows return
  * as duplicates and the novelization token.
  *
  * Checks, outside the timed operations: the fingerprint and IVF
  * stores grow by exactly the novel rows offered, the other three grow
  * when novel rows are offered, and replaying the last batch appends
  * nothing to any store. */
final class Ingest(b: Bench, data: String, seed: Long) extends Workload {
  private val spark = b.spark
  private val families = Workloads.families
  private val docs = spark.read.parquet(s"$data/documents.parquet")
  private val vecs = spark.read.parquet(s"$data/embeddings.parquet").select("vec_id", "embedding")
  /** Each batch takes 1/Slice of the corpus as duplicates and another
    * 1/Slice, novelized, as new rows. */
  private val Slice = 20
  private val rows = LinkedHashMap.empty[String, Long]
  private val tables = LinkedHashMap.empty[String, String]
  private var cycles = 0
  private var samples = 0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
  private def sql(text: String): () => DataFrame = () => spark.sql(text)

  /** Exactly `n` rows of `df`, picked by the seed. */
  private def pick(df: DataFrame, id: String, c: Int, salt: Int, n: Long) =
    df.orderBy(xxhash64(col(id), lit(seed), lit(c), lit(salt))).limit(n.toInt)
  private lazy val (docSlice, vecSlice) = (docs.count() / Slice, vecs.count() / Slice)

  /** Cycle `c`'s (documents, vectors) batch, written to parquet so
    * every verb reads the same rows, with its (rows, novel rows) counts.
    * Duplicates come from rows every document store holds (the stores
    * leave out doc_id % 10 = 3, their own probe slice). */
  private def batch(c: Int): ((DataFrame, Long, Long), (DataFrame, Long, Long)) = {
    val tok = s"ing${seed}c$c"
    val novel = c * 1000000000L
    val novDocs = pick(docs, "doc_id", c, 1, docSlice)
      .withColumn("doc_id", col("doc_id") + lit(novel))
      .withColumn("text", concat(lit(s"$tok "), regexp_replace(col("text"), " ", s" $tok ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val novVecs = pick(vecs, "vec_id", c, 1, vecSlice)
      .withColumn("vec_id", col("vec_id") + lit(novel))
      .withColumn("embedding", transform(col("embedding"), x => x + lit((c * 0.001 + (seed % 97) * 1e-5).toFloat)))
    def saved(df: DataFrame, name: String, id: String): (DataFrame, Long, Long) = {
      val p = b.work.resolve(s"batches/$name-$c").toString
      df.write.mode("overwrite").parquet(p)
      val back = spark.read.parquet(p)
      val n = back.agg(count(lit(1)), count(when(col(id) >= novel, 1))).head()
      (back, n.getLong(0), n.getLong(1))
    }
    (saved(pick(docs.filter(pmod(col("doc_id"), lit(10)) =!= 3), "doc_id", c, 0, docSlice).unionByName(novDocs),
      "docs", "doc_id"),
      saved(pick(vecs, "vec_id", c, 0, vecSlice).unionByName(novVecs), "vecs", "vec_id"))
  }

  private def view(f: String) = if (f == "graph" || f == "ivf") "gb_vecs" else "gb_docs"

  private def append(f: String, traced: Boolean): (Double, Map[String, Double], Long) = {
    var status = 0L
    val (w, l) = b.runOp(Op(s"append_$f",
      sql(s"SELECT * FROM append_store('$f', '$data', '${view(f)}')"),
      df => { val r = df.collect().head; tables(f) = r.getString(1); status = r.getLong(2) }), traced)
    val grown = status - rows.getOrElse(f, status)
    rows(f) = status
    (w, l, grown)
  }

  private val admits = Seq("fp" -> "incremental_admit", "band" -> "neardup_admit", "anchor" -> "span_admit")
  private val serves = Seq("graph" -> "ann_graph_store", "ivf" -> "ann_ivf_store")

  def setup(): Unit = {
    // appending an empty batch builds each store and reports its rows
    docs.limit(0).createOrReplaceTempView("gb_docs")
    vecs.limit(0).createOrReplaceTempView("gb_vecs")
    families.foreach(f => append(f, traced = false))
    // one untimed serve per vector store, so that timed serves run warm
    serves.foreach { case (f, verb) =>
      b.runOp(Op(s"serve_$f", sql(s"SELECT * FROM $verb('$data')"), noop), traced = false)
    }
  }

  /** Untraced: whole cycles for `seconds`. Traced: one cycle, every
    * read-only verb paired with an untraced run. */
  def measure(seconds: Double, trace: Boolean): Seq[(String, (Double, String))] = {
    val walls = ArrayBuffer.empty[Double]
    var (offered, writeWall) = (0L, 0.0)
    val t0 = System.nanoTime()
    var last: (DataFrame, DataFrame) = null
    def read(verb: String, name: String) = {
      val op = Op(name, sql(s"SELECT * FROM $verb('$data')"), noop)
      if (trace) b.runPaired(op) else b.runOp(op, traced = false)
    }
    def keep(w: Double, l: Map[String, Double]): Unit = {
      walls += w
      l.foreach { case (k, x) => b.note(k, x) }
      if (trace) b.note("sql.verb_resolve_s", l("operators.build_s"))
    }
    while (cycles == 0 || (!trace && (System.nanoTime() - t0) / 1e9 < seconds)) {
      cycles += 1
      val ((d, nd, novD), (v, nv, novV)) = batch(cycles)
      last = (d, v)
      d.createOrReplaceTempView("gb_docs"); v.createOrReplaceTempView("gb_vecs")
      admits.foreach { case (f, verb) =>
        val (w, l) = read(verb, s"probe_$f")
        keep(w, l)
        writeWall += w
        if (trace) b.note(s"sources.$f.probe_s", w)
      }
      families.foreach { f =>
        val (w, l, grown) = append(f, trace)
        keep(w, l)
        writeWall += w
        val docGrain = view(f) == "gb_docs"
        val novel = if (docGrain) novD else novV
        if (f == "fp" || f == "ivf") b.check(s"$f grows by the $novel novel rows (grew $grown)", grown == novel)
        else b.check(s"$f grows on novel rows", grown > 0)
        if (trace) {
          b.note(s"sources.$f.append_s", w)
          b.note(s"sources.$f.admit_ratio", grown.toDouble / (if (docGrain) nd else nv))
        }
      }
      offered += nd + nv
      if (trace) storeShape() // the file layout the serving probes read
      serves.foreach { case (f, verb) =>
        val (w, l) = read(verb, s"serve_$f")
        keep(w, l)
        if (trace) b.note(s"sources.$f.probe_s", w)
      }
      val compact = families.map { f =>
        val (w, l) = b.runOp(Op(s"compact_$f",
          sql(s"SELECT * FROM compact_store('$f', '$data')"), df => rows(f) = df.collect().head.getLong(2)), trace)
        keep(w, l)
        if (trace) b.note(s"sources.$f.compact_s", w)
        w
      }
      if (trace) b.note("ingest.compact_s", compact.sum)
    }
    // a replayed batch must append nothing
    last._1.createOrReplaceTempView("gb_docs"); last._2.createOrReplaceTempView("gb_vecs")
    families.foreach { f =>
      val (_, _, grown) = append(f, traced = false)
      b.check(s"$f replay appends nothing (grew $grown)", grown == 0)
    }
    samples = walls.size
    Workloads.latency(walls.toSeq) ++ Seq(
      "throughput_qps" -> (walls.size / walls.sum, "1/s"), "input_rows_s" -> (offered / writeWall, "1/s"))
  }

  /** Bytes and files per bucket (per cell for IVF) of each store, and
    * all stores' bytes per byte of the input corpus. */
  private def storeShape(): Unit = {
    val fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)
    var total = 0L
    families.foreach { f =>
      val desc = spark.sql(s"DESCRIBE TABLE EXTENDED ${tables(f)}").collect()
        .map(r => r.getString(0) -> Option(r.getString(1)).getOrElse("")).toMap
      val files = fs.listFiles(new Path(desc("Location")), true)
      var (n, bytes) = (0, 0L)
      val dirs = scala.collection.mutable.Set.empty[Path]
      while (files.hasNext) {
        val s = files.next()
        if (s.getPath.getName.startsWith("part-")) { n += 1; bytes += s.getLen; dirs += s.getPath.getParent }
      }
      total += bytes
      val buckets = desc.get("Num Buckets").map(_.trim.toInt).getOrElse(dirs.size)
      b.note(s"sources.$f.bytes", bytes.toDouble)
      b.note(s"sources.$f.files_per_bucket", n.toDouble / math.max(1, buckets))
    }
    val corpus = Seq("documents", "embeddings").map { t =>
      fs.getContentSummary(new Path(s"$data/$t.parquet")).getLength
    }.sum
    b.note("ingest.store_bytes_per_input_byte", total.toDouble / corpus)
  }

  def stamps: Seq[(String, String)] = Seq("cycles" -> cycles.toString,
    "latency_samples" -> samples.toString, "latency_tail_pct" -> "90",
    "store_rows" -> rows.map { case (f, n) => s""""$f":$n""" }.mkString("{", ",", "}"))
}
