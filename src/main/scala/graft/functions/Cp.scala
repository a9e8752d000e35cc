package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** House localCheckpoint: eager + MEMORY_AND_DISK_SER.
  *
  * The default localCheckpoint() stores DESERIALIZED rows
  * (MEMORY_AND_DISK): a shingle/bigram posting table that is 1–2 GB
  * as parquet inflates several-fold on-heap, and at 100× SF the block
  * build itself OOMs a modestly-sized executor before spill can help
  * (observed: the whole pair family dying in stage 9 at sf10 on the
  * 8 g local JVM). Serialized storage keeps blocks compact (UnsafeRow
  * bytes), spills cleanly, and costs one deserialization on re-read —
  * the right trade for every materialize-once table in this engine.
  * Small frames lose nothing. On a real cluster the same reasoning
  * holds per executor.
  */
object Cp {

  /** Checkpoint-transparency registry for the plan-invariant tests.
    *
    * Eager checkpoints TRUNCATE lineage: anything materialized via
    * [[local]] disappears from the final sparkPlan, so invariants
    * scanned there (global-window funnels, merge-join/no-broadcast
    * assertions) cannot see inside a materialized subtree — and the
    * engine materializes its most scale-sensitive subtrees (pair
    * pipelines, posting tables, histogram spines) exactly there.
    * While recording is on, [[local]] captures each input's physical
    * plan BEFORE truncation; PlanShapeSpec asserts invariants over
    * the union of the final plan and every recorded subtree, so a
    * data-sized global window hidden under a checkpoint fails the
    * test instead of slipping through (the round-10 q_dsir lesson). */
  private val recorded =
    new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.execution.SparkPlan]()
  @volatile private var recording = false

  def startRecording(): Unit = synchronized {
    recorded.clear(); recording = true
  }

  def stopRecording(): Seq[org.apache.spark.sql.execution.SparkPlan] =
    synchronized {
      recording = false
      val out = recorded.toList
      recorded.clear()
      out
    }

  /** Id sets of the generation scopes ([[owned]], [[scoped]]) open on
    * this thread, innermost first. */
  private val open = ThreadLocal.withInitial[List[mutable.Set[Int]]](() => Nil)

  def local[T](ds: Dataset[T]): Dataset[T] = {
    if (recording) synchronized {
      if (recording) recorded += ds.queryExecution.sparkPlan
    }
    val out = ds.localCheckpoint(true, StorageLevel.MEMORY_AND_DISK_SER)
    // the persisted RDD is the one the checkpointed plan reads
    open.get.foreach(_ += out.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd.id)
    out
  }

  /** Checkpoint MATERIALIZED AND DECLARED clustered by `cols`.
    *
    * [[local]] forgets the physical layout (under AQE the captured
    * outputPartitioning is Unknown), so a table materialized
    * partitioned-by-key still gets re-shuffled by every downstream
    * join/agg on that key. This variant repartitions to exactly
    * `nPart` hash partitions on `cols` (REPARTITION_BY_NUM — AQE
    * never coalesces it, so the layout is provably
    * pmod(murmur3(cols), nPart)), checkpoints, and re-declares the
    * partitioning on the checkpointed frame — downstream same-key
    * aggregations and co-partitioned joins (including self-joins;
    * attribute remapping survives dedup) then plan with ZERO
    * exchanges. The posting-table pipelines are the target: build
    * shuffled once, consumed shuffle-free three times. */
  def localClustered(df: org.apache.spark.sql.DataFrame, nPart: Int,
                     cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    org.apache.spark.sql.graft.Bridge.claimClustered(
      local(df.repartition(nPart, cols.map(col): _*)), nPart, cols)
  }

  /** [[localClustered]] + per-partition ASCENDING ORDER on the same
    * `cols`: repartition (REPARTITION_BY_NUM, AQE-exempt) then
    * sortWithinPartitions (partition-preserving), checkpoint, and
    * re-declare both properties. Downstream same-key merge joins then
    * plan with zero exchanges AND zero sorts — the build shape for a
    * table consumed by several merge-hinted equi-joins on its key
    * (recall/census evaluators joining two pair tables, per-round
    * edge⋈degree joins). Both layout facts are provable from the
    * plan: the claim never sits downstream of an ENSURE_REQUIREMENTS
    * exchange. */
  def localClusteredSorted(df: org.apache.spark.sql.DataFrame, nPart: Int,
                           cols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    org.apache.spark.sql.graft.Bridge.claimClustered(
      local(df.repartition(nPart, cols.map(col): _*)
        .sortWithinPartitions(cols.map(col): _*)),
      nPart, cols, sorted = true)
  }

  /** Checkpoint a frame whose CLUSTERED (and optionally per-partition
    * SORTED) layout is inherited from upstream, and re-declare it.
    * For frames derived from a [[localClustered]] ancestor through
    * partition-preserving operators only — filters, projections, and
    * merge/broadcast joins or hash-aggs keyed on the same `cols`
    * (a merge join additionally leaves its streamed side ascending on
    * the key: pass `sorted = true` and the next merge self-join skips
    * its sorts too). The layout claim is the CALLER's proof burden —
    * see [[org.apache.spark.sql.graft.Bridge.claimClustered]]; every
    * call site stays behind the DuckDB oracle gate. */
  def localClusteredAs(df: org.apache.spark.sql.DataFrame, nPart: Int,
                       cols: Seq[String],
                       sorted: Boolean = false): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.Bridge.claimClustered(
      local(df), nPart, cols, sorted)

  /** Run `body` with `ids` open as a generation scope on this thread. */
  private def inScope[T](ids: mutable.Set[Int])(body: => T): T = {
    open.set(ids :: open.get)
    try body finally open.set(open.get.tail)
  }

  /** Run `body` and return its result with the ids of the RDDs that
    * [[local]] persisted ON THIS THREAD while it ran, nested scopes
    * included. Checkpoints taken by other threads in the same window
    * are never claimed: ownership is per thread and by id. */
  def owned[T](body: => T): (T, Set[Int]) = {
    val ids = mutable.Set.empty[Int]
    (inScope(ids)(body), ids.toSet)
  }

  /** One-shot checkpoint hygiene for SIDE-EFFECTING verbs (the
    * append/ensure store maintenance family): run `body`, then drop
    * the checkpoints it [[owned]] — those [[local]] took on this
    * thread while `body` ran, also when `body` throws. The append
    * verbs checkpoint intermediate frames (batch reps, novelty hits,
    * capped edges) that are fully consumed by their eager writes, but
    * the blocks outlive the call (MEMORY_AND_DISK_SER, reaped only on
    * a driver GC), so a multi-cycle ingest/soak driver would hold a
    * generation per cycle until the heap forces the collection.
    * Checkpoints a concurrent query takes on another thread are not
    * this scope's and stay live. ONLY safe when `body`'s RESULT does
    * not reference its checkpoints (Unit-returning appends, ensure*
    * returning a table name); a verb returning a lazy DataFrame over
    * its checkpoint must keep the generation alive. */
  def scoped[T](s: SparkSession)(body: => T): T = {
    val ids = mutable.Set.empty[Int]
    try inScope(ids)(body) finally dropGeneration(s, ids)
  }

  /** Rolling generations for an iterative loop: each call runs `body`
    * [[owned]], then drops the PREVIOUS call's generation — dead once
    * `body`'s eager checkpoints have materialized its successor. So at
    * most two generations are live, and the last stays live for the
    * loop's result. Any action that still reads the previous
    * generation must run inside `body`. */
  final class Rolling(s: SparkSession) {
    private var prev = Set.empty[Int]
    def apply[T](body: => T): T = {
      val (out, ids) = owned(body)
      dropGeneration(s, prev)
      prev = ids
      out
    }
  }

  /** Drop a DEAD generation's checkpoint blocks by RDD id. Eager
    * localCheckpoints truncate lineage, so dropped blocks are
    * unrecoverable: pass only ids from [[owned]] (or a [[scoped]] /
    * [[Rolling]] body) that no live plan references. Without this an
    * N-round loop pins N generations of checkpointed state until the
    * ContextCleaner GCs them, which at 100× SF is after the OOM (the
    * q_kcore sf10 executor OOM). */
  def dropGeneration(s: SparkSession, ids: scala.collection.Set[Int]): Unit =
    s.sparkContext.getPersistentRDDs
      .filter { case (id, _) => ids(id) }
      .values.foreach(_.unpersist(blocking = false))
}
