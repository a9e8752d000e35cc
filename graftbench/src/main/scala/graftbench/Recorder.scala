package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of a traced operation, in epoch milliseconds.
  * `parent` names the enclosing span kind ("" for the operation). */
final case class Span(op: Int, name: String, parent: String, start: Long, end: Long) {
  def seconds: Double = (end - start) / 1000.0
}

/** The traced run's recorder: a public `SparkListener` for jobs,
  * stages and tasks plus a `QueryExecutionListener` for the planning
  * phases of each executed query. Events are attributed to the
  * operation and phase ("build" or "exec") named by the local
  * properties the driver thread sets around each step. While `on` is
  * false every callback returns at once, so untraced passes pay only
  * the listener dispatch. */
final class Recorder(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  @volatile var on = false

  private final class JobRec(val op: Int, val phase: String, val start: Long,
                             val stages: Seq[Int]) { @volatile var end = -1L }
  private final class StageAcc {
    val durations = ArrayBuffer.empty[Long]
    var first = Long.MaxValue; var last = 0L
    var gcMs = 0L; var shuffleWrite = 0L; var shuffleRead = 0L
    var fetchWaitMs = 0L; var spill = 0L; var inBytes = 0L; var inRows = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageOp = new ConcurrentHashMap[Int, Integer]()
  private val stageJob = new ConcurrentHashMap[Int, Integer]()
  private val stages = new ConcurrentHashMap[Int, StageAcc]()
  private val queries = new ConcurrentLinkedQueue[(String, QueryExecution)]()
  val spans = ArrayBuffer.empty[Span]

  private def opOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Recorder.OpKey))).map(_.toInt).getOrElse(-1)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val op = opOf(e.properties)
    val phase = Option(e.properties).map(_.getProperty(Recorder.PhaseKey, "exec")).getOrElse("exec")
    jobs.put(e.jobId, new JobRec(op, phase, e.time, e.stageIds))
    e.stageIds.foreach { s => stageOp.putIfAbsent(s, op); stageJob.putIfAbsent(s, e.jobId) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (on) {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskInfo != null) {
    val acc = stages.computeIfAbsent(e.stageId, _ => new StageAcc)
    val m = e.taskMetrics
    acc.synchronized {
      acc.durations += e.taskInfo.duration
      acc.first = math.min(acc.first, e.taskInfo.launchTime)
      acc.last = math.max(acc.last, e.taskInfo.finishTime)
      if (m != null) {
        acc.gcMs += m.jvmGCTime
        acc.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        acc.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        acc.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        acc.spill += m.diskBytesSpilled
        acc.inBytes += m.inputMetrics.bytesRead
        acc.inRows += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (on) queries.add(funcName -> qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Runs `f` as phase `phase` of operation `op`: jobs it starts carry
    * both in their local properties. */
  def phase[T](op: Int, phase: String)(f: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Recorder.OpKey, op.toString)
    sc.setLocalProperty(Recorder.PhaseKey, phase)
    try f finally {
      sc.setLocalProperty(Recorder.OpKey, null)
      sc.setLocalProperty(Recorder.PhaseKey, null)
    }
  }

  /** Closes operation `op`: drains the bus, turns its events into
    * spans and returns its per-layer figures. `build` and `write` are
    * the driver-side intervals of the two steps, `cores` the local
    * parallelism. */
  def close(op: Int, build: Span, write: Span, cores: Int): Map[String, Double] = {
    BusDrain(spark.sparkContext)
    val opSpan = Span(op, "op", "", build.start, write.end)
    spans += opSpan += build += write
    val myJobs = jobs.asScala.toSeq.filter(_._2.op == op).sortBy(_._2.start)
    myJobs.foreach { case (id, j) =>
      spans += Span(op, s"job.$id", j.phase, j.start, math.max(j.end, j.start))
    }
    val myStages = stageOp.asScala.toSeq.collect {
      case (s, o) if o == op && stages.containsKey(s) => s -> stages.get(s)
    }
    myStages.foreach { case (s, a) => spans += Span(op, s"stage.$s", s"job.${stageJob.get(s)}", a.first, a.last) }
    // plan phases of the executed write: only queries that ran no
    // earlier than the write started (builders may run their own)
    val plans = queries.asScala.toSeq.filter { case (_, qe) =>
      qe.tracker.phases.values.forall(_.startTimeMs >= write.start)
    }
    val phaseSec = Seq("analysis", "optimization", "planning").map { p =>
      val ph = plans.flatMap(_._2.tracker.phases.get(p))
      ph.foreach(x => spans += Span(op, s"plan.$p", "write", x.startTimeMs, x.endTimeMs))
      p -> ph.map(_.durationMs).sum / 1000.0
    }.toMap
    val execJobs = myJobs.map(_._2).filter(_.phase == "exec")
    val execSpan = if (execJobs.isEmpty) None
      else Some(Span(op, "exec", "write", execJobs.map(_.start).min, execJobs.map(_.end).max))
    execSpan.foreach(spans += _)
    // merged job intervals → time inside jobs and the gaps between them
    val ivs = myJobs.map { case (_, j) => (j.start, math.max(j.end, j.start)) }
    var (covered, gaps, curS, curE) = (0L, 0L, -1L, -1L)
    ivs.foreach { case (s, e) =>
      if (curE < 0) { curS = s; curE = e }
      else if (s > curE) { covered += curE - curS; gaps += s - curE; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE >= 0) covered += curE - curS
    val accs = myStages.map(_._2)
    def sum(f: StageAcc => Long): Double = accs.map(a => a.synchronized(f(a))).sum.toDouble
    val taskMs = sum(_.durations.sum)
    val (skewNum, skewDen) = accs.map { a =>
      val d = a.synchronized(a.durations.sorted.toVector)
      if (d.size < 2 || d.sum == 0) (0.0, 0.0)
      else (d.sum * (d.last.toDouble / math.max(1L, d(d.size / 2))), d.sum.toDouble)
    }.foldLeft((0.0, 0.0)) { case ((a, b), (c, d)) => (a + c, b + d) }
    val wall = opSpan.seconds
    val planSec = phaseSec.values.sum
    val execSec = execSpan.map(_.seconds).getOrElse(0.0)
    // what the build, plan and exec spans do not cover
    val residual = wall - build.seconds - planSec - execSec
    // operations run one at a time and the bus is drained: nothing
    // recorded so far belongs to a later operation
    Seq(jobs, stageOp, stageJob, stages).foreach(_.clear())
    queries.clear()
    Map(
      "operators.build_s" -> build.seconds,
      "operators.build_jobs" -> myJobs.count(_._2.phase == "build").toDouble,
      "plans.analysis_s" -> phaseSec("analysis"),
      "plans.optimization_s" -> phaseSec("optimization"),
      "plans.planning_s" -> phaseSec("planning"),
      "exec.gap_s" -> gaps / 1000.0,
      "exec.jobs" -> myJobs.size.toDouble,
      "exec.stages" -> accs.size.toDouble,
      "exec.tasks" -> accs.map(a => a.synchronized(a.durations.size)).sum.toDouble,
      "exec.job_s" -> covered / 1000.0,
      "exec.task_s" -> taskMs / 1000.0,
      "exec.core_util" -> (if (wall > 0) taskMs / 1000.0 / (wall * cores) else 0.0),
      "exec.skew" -> (if (skewDen > 0) skewNum / skewDen else 1.0),
      "exec.gc_s" -> sum(_.gcMs) / 1000.0,
      "exec.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "exec.shuffle_read_bytes" -> sum(_.shuffleRead),
      "exec.fetch_wait_s" -> sum(_.fetchWaitMs) / 1000.0,
      "exec.spill_bytes" -> sum(_.spill),
      "tables.input_bytes" -> sum(_.inBytes),
      "tables.input_rows" -> sum(_.inRows),
      "trace.residual_s" -> residual)
  }

  /** Every span recorded so far as JSON lines, with self time (the
    * span's length minus that of the spans it encloses). */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val byOp = spans.groupBy(_.op)
    val lines = spans.map { s =>
      val kids = byOp(s.op).filter(_.parent == s.name)
      val self = s.seconds - kids.map(_.seconds).sum
      f"""{"op":${s.op},"name":"${s.name}","parent":"${s.parent}","start_ms":${s.start},""" +
        f""""end_ms":${s.end},"self_s":$self%.4f}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Recorder {
  val OpKey = "graftbench.op"
  val PhaseKey = "graftbench.phase"
}
