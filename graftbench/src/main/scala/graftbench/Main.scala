package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: `build` returns the DataFrame (query builders
  * and `spark.sql` both run their eager work there), `sink` executes it. */
final case class Op(name: String, build: () => DataFrame, sink: DataFrame => Unit)

/** The benchmark's JVM side. `run.py` builds the program, generates
  * the inputs and starts this main; it prints one JSON line of stamps
  * and then the result line `run.py` passes on.
  *
  * Options: --workload analyst|ingest --seed N --seconds N
  * --trace 0|1 --work DIR --data DIR --expected FILE --gen-s SECONDS
  * [--record 1: print the fingerprints of the analyst queries] */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val b = new Bench(o("workload"), o("seed").toLong, o("seconds").toDouble,
      o("trace") == "1", Paths.get(o("work")), o("data"), Paths.get(o("expected")),
      o.get("gen-s").map(_.toDouble).getOrElse(0.0))
    if (o.get("record").contains("1")) b.record() else b.run()
  }
}

final class Bench(workload: String, seed: Long, seconds: Double, trace: Boolean,
                  val work: Path, data: String, val expectedPath: Path, genSec: Double) {
  private val cores = graft.GraftSession.cpus
  private val loadStart = Bench.loadavg()
  private val t0 = System.nanoTime()
  val spark: SparkSession = graft.GraftSession.builder("graftbench", cores)
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toUri.toString)
    // graft keeps its standing stores under one fixed absolute
    // directory; a view file system mounts the work dir there, so
    // every byte the benchmark writes stays in its work dir
    .config("spark.hadoop.fs.defaultFS", "viewfs://graftbench/")
    .config(s"spark.hadoop.fs.viewfs.mounttable.graftbench.link.${Bench.StoreRoot}",
      work.resolve("stores").toUri.toString)
    .config("spark.hadoop.fs.viewfs.mounttable.graftbench.linkFallback", "file:///")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionSec = (System.nanoTime() - t0) / 1e9
  val rec = new Recorder(spark)
  spark.sparkContext.addSparkListener(rec)
  spark.listenerManager.register(rec)

  private val fails = ArrayBuffer.empty[String]
  private var attempted = 0
  private val layer = LinkedHashMap.empty[String, ArrayBuffer[Double]]
  /** Keeps one sample of a per-layer figure; the traced run reports
    * the mean of each figure's samples. */
  def note(k: String, v: Double): Unit = layer.getOrElseUpdate(k, ArrayBuffer.empty) += v

  /** Count one checked outcome; a mismatch is a failed operation. */
  def check(what: String, ok: Boolean): Unit = {
    attempted += 1
    if (!ok) { fails += what; System.err.println(s"[graftbench] check failed: $what") }
  }

  def record(): Unit = {
    val fps = Workloads.queries.map { case (n, fn) =>
      val (rows, h) = Fingerprint(fn(spark, data)); cleanup()
      s""""$n": [$rows, "$h"]"""
    }
    println(fps.mkString("{\n", ",\n", "\n}"))
    spark.stop()
  }

  /** Unpersists what the last operation left cached and collects the
    * driver heap; outside every timed operation. */
  def cleanup(): Double = {
    val t = System.nanoTime()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
    (System.nanoTime() - t) / 1e9
  }

  private var nextOp = 0

  /** Runs `op` once and returns its wall seconds. When `traced`, the
    * recorder is on for it and its per-layer figures come back too;
    * the cached-data figures are read before the cleanup. */
  def runOp(op: Op, traced: Boolean): (Double, Map[String, Double]) = {
    rec.on = traced
    nextOp += 1
    val id = nextOp
    val s0 = System.currentTimeMillis(); val n0 = System.nanoTime()
    val df = rec.phase(id, "build")(op.build())
    val s1 = System.currentTimeMillis()
    rec.phase(id, "exec")(op.sink(df))
    val wall = (System.nanoTime() - n0) / 1e9
    System.err.println(f"[graftbench] ${op.name} $wall%.3f s")
    if (!traced) { cleanup(); (wall, Map.empty) }
    else {
      val s2 = System.currentTimeMillis()
      val sc = spark.sparkContext
      val layers = rec.close(id, Span(id, "build", "op", s0, s1), Span(id, "write", "op", s1, s2), cores) ++ Map(
        "functions.cp_rdds" -> sc.getPersistentRDDs.size.toDouble,
        "functions.cp_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble,
        "functions.cleanup_s" -> cleanup())
      rec.on = false
      (wall, layers)
    }
  }

  private var pairs = 0
  private var pairedTraced = 0.0
  private var pairedUntraced = 0.0

  /** Runs a read-only `op` traced and untraced, traced first on every
    * other call, and returns the traced run. The pairs give the tracing
    * overhead with the warm-up order balanced out. */
  def runPaired(op: Op): (Double, Map[String, Double]) = {
    val tracedFirst = pairs % 2 == 0
    val before = if (tracedFirst) 0.0 else runOp(op, traced = false)._1
    val t = runOp(op, traced = true)
    val after = if (tracedFirst) runOp(op, traced = false)._1 else 0.0
    pairs += 1
    pairedTraced += t._1
    pairedUntraced += before + after
    t
  }

  def run(): Unit = {
    val w = Workloads(workload, this, data, seed)
    val tw = System.nanoTime()
    w.setup()
    val warmSec = (System.nanoTime() - tw) / 1e9
    val setupSec = genSec + sessionSec + warmSec
    val timed = w.measure(seconds, trace)
    val m = LinkedHashMap.empty[String, (Double, String)]
    if (!trace) {
      m("setup_s") = (setupSec, "s")
      m ++= timed
      m("peak_rss_mb") = (Bench.peakRssMb(), "MB")
    } else {
      note("session.start_s", sessionSec)
      note("session.warm_s", warmSec)
      note("trace.overhead_share", pairedTraced / pairedUntraced - 1)
      if (workload == "analyst") Kernels(spark, seed).foreach { case (k, v) => note(k, v) }
      Workloads.perLayer.foreach { k =>
        val v = layer.get(k).map(xs => xs.sum / xs.size).getOrElse(0.0)
        m(k) = (v, Workloads.unitOf(k))
      }
      rec.writeSpans(work.resolve(s"spans-$workload-$seed.jsonl"))
    }
    val loadEnd = Bench.loadavg()
    val stamps = Seq(
      "workload" -> s""""$workload"""", "seed" -> seed.toString, "trace" -> trace.toString,
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "spark_graft_cpus" -> cores.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jvm" -> s""""${System.getProperty("java.version")}"""",
      "git_head" -> s""""${sys.env.getOrElse("GRAFTBENCH_HEAD", "unknown")}"""",
      "loadavg" -> s"[$loadStart,$loadEnd]",
      "dirty_window" -> (loadStart > Runtime.getRuntime.availableProcessors).toString,
      "failures" -> fails.take(5).map(f => "\"" + f.replace("\"", "'") + "\"").mkString("[", ",", "]")) ++
      w.stamps
    val stampLine = stamps.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    Files.writeString(work.resolve(s"result-$workload-$seed-${if (trace) 1 else 0}.json"), stampLine)
    println(stampLine)
    val metrics = m.map { case (k, (v, u)) => s""""$k":{"value":${Bench.num(v)},"unit":"$u"}""" }
    spark.stop()
    println(s"""{"correct":${fails.isEmpty},"attempted":${math.max(1, attempted)},""" +
      s""""failed":${fails.size},"metrics":${metrics.mkString("{", ",", "}")}}""")
  }
}

object Bench {
  /** Where graft writes its standing stores. */
  val StoreRoot = "/tmp/graft_fpstore"

  def loadavg(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The 90th percentile by nearest rank. */
  def p90(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else s(math.ceil(0.9 * s.size).toInt - 1)
  }
}
