package graftbench

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A workload: an untimed set-up, then a closed loop of operations for
  * the run's seconds. `measure` returns the end-to-end metrics of the
  * untraced operations; traced operations feed `Bench.note`. */
trait Workload {
  def setup(): Unit
  def measure(seconds: Double, trace: Boolean): Seq[(String, (Double, String))]
  def stamps: Seq[(String, String)]
}

object Workloads {
  type Query = (SparkSession, String) => DataFrame

  /** TPC-H queries of the main scan, join and aggregation shapes (q1,
    * q3, q5, q6, q12, q22) plus top-n and sessionization analytics:
    * short queries where planning and per-job overhead are most of the
    * time. */
  val analyst: Seq[String] = Seq(
    "q1_pricing_summary", "q3_top_unshipped", "q5_region_revenue", "q6_forecast",
    "q12_late_lines", "q22_idle_customers", "q_topn_per_group", "q_sessionize")

  def queries: Seq[(String, Query)] = analyst.map(n => n -> graft.SparkEntry.queries(n))

  def apply(name: String, b: Bench, data: String, seed: Long): Workload = name match {
    case "analyst" => new Analyst(b, data, seed)
    case "ingest" => new Ingest(b, data, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val kernels: Seq[String] = Seq("cosine_sim", "shingle_hash60", "minhash_sigs", "simhash32",
    "sig_agree", "jaro_winkler_sim", "hilbert_d", "md5_prefix60", "signed_proj_buckets",
    "nearest_centroid", "rolling_chunks")
  val families: Seq[String] = Seq("fp", "band", "anchor", "graph", "ivf")

  /** Every per-layer metric, in report order. */
  val perLayer: Seq[String] =
    Seq("session.start_s", "session.warm_s", "operators.build_s", "operators.build_jobs",
      "plans.analysis_s", "plans.optimization_s", "plans.planning_s",
      "exec.gap_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.job_s", "exec.task_s",
      "exec.core_util", "exec.skew", "exec.gc_s", "exec.shuffle_write_bytes",
      "exec.shuffle_read_bytes", "exec.fetch_wait_s", "exec.spill_bytes",
      "tables.input_bytes", "tables.input_rows",
      "functions.cp_rdds", "functions.cp_bytes", "functions.cleanup_s") ++
      kernels.flatMap(k => Seq(s"functions.$k.codegen.ns_row", s"functions.$k.interp.ns_row")) ++
      families.flatMap(f => Seq("append_s", "admit_ratio", "probe_s", "files_per_bucket",
        "compact_s", "bytes").map(m => s"sources.$f.$m")) ++
      Seq("sql.verb_resolve_s", "ingest.compact_s", "ingest.store_bytes_per_input_byte",
        "trace.residual_s", "trace.overhead_share")

  def unitOf(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("bytes")) "bytes"
    else if (k.endsWith("ns_row")) "ns/row"
    else if (Seq("rows", "jobs", "stages", "tasks", "rdds").exists(k.endsWith)) "count"
    else "ratio"

  /** Median and p90 of a workload's latency samples. */
  def latency(samples: Seq[Double]): Seq[(String, (Double, String))] =
    Seq("latency_p50_s" -> (Bench.median(samples), "s"), "latency_tail_s" -> (Bench.p90(samples), "s"))
}

/** `analyst`: passes over a fixed query mix, each pass in a
  * seed-shuffled order, every query written through the `noop` sink
  * twice in a row; the faster run is its latency sample (the min-of-2
  * rule of graft's own sweep). The set-up pass runs each query once
  * under a fingerprint check; it also records each query's scanned
  * rows for `input_rows_s`. */
final class Analyst(b: Bench, data: String, seed: Long) extends Workload {
  private val queries = Workloads.queries
  private val expected = Expected(b.expectedPath)
  private val inputRows = scala.collection.mutable.Map.empty[String, Double]
  private var passes = 0
  private var samples = 0

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def setup(): Unit = {
    queries.foreach { case (n, fn) =>
      var got = (0L, "")
      val (_, layers) = b.runOp(Op(n, () => fn(b.spark, data), df => got = Fingerprint(df)), traced = true)
      inputRows(n) = layers.getOrElse("tables.input_rows", 0.0)
      b.check(s"$n fingerprint", expected.get(n).contains(got))
    }
    b.rec.spans.clear()
  }

  /** Untraced: whole passes for `seconds`. Traced: one pass, every
    * query paired with an untraced run. */
  def measure(seconds: Double, trace: Boolean): Seq[(String, (Double, String))] = {
    def op(n: String, fn: Workloads.Query) = Op(n, () => fn(b.spark, data), noop)
    val best = ArrayBuffer.empty[Double]
    var (wall, rows) = (0.0, 0.0)
    val t0 = System.nanoTime()
    while (passes == 0 || (!trace && (System.nanoTime() - t0) / 1e9 < seconds)) {
      new Random(seed * 7919 + passes).shuffle(queries).foreach { case (n, fn) =>
        if (trace) b.runPaired(op(n, fn))._2.foreach { case (k, v) => b.note(k, v) }
        else {
          val two = Seq.fill(2)(b.runOp(op(n, fn), traced = false)._1)
          best += two.min
          wall += two.sum
          rows += 2 * inputRows(n)
        }
      }
      passes += 1
    }
    samples = best.size
    Workloads.latency(best.toSeq) ++ Seq(
      "throughput_qps" -> (2 * best.size / wall, "1/s"), "input_rows_s" -> (rows / wall, "1/s"))
  }

  def stamps: Seq[(String, String)] = Seq("passes" -> passes.toString,
    "latency_samples" -> samples.toString, "latency_tail_pct" -> "90")
}

/** Expected query fingerprints, from `expected.json`:
  * `"query": [rows, "hash"]`. */
object Expected {
  private val Entry = """"([A-Za-z0-9_]+)"\s*:\s*\[\s*(\d+)\s*,\s*"(-?\d+)"\s*\]""".r

  def apply(path: java.nio.file.Path): Map[String, (Long, String)] =
    Entry.findAllMatchIn(java.nio.file.Files.readString(path))
      .map(m => m.group(1) -> (m.group(2).toLong, m.group(3))).toMap
}
