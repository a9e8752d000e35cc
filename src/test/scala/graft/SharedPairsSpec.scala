package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Dedup

/** Contract of Dedup.withSharedPairs: inside the scope every pair-
  * family consumer reads ONE checkpointed pair build, results are
  * bit-identical to standalone runs, and the scope cleans up after
  * itself (cache entry removed, checkpoint generation dropped). The
  * iterative pair consumers keep only their result generations
  * persisted, and never drop the shared build.
  */
class SharedPairsSpec extends AnyFunSuite {
  import TestSpark._

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("consumers share ONE pair build; results bit-identical to solo runs") {
    // standalone: every jaccardPairs call is a fresh pipeline
    assert(!(Dedup.jaccardPairs(spark, sf) eq Dedup.jaccardPairs(spark, sf)))
    val soloSweep = rowsOf(Dedup.qThresholdSweep(spark, sf))
    val soloReach = rowsOf(Dedup.qReachability(spark, sf))

    val persistedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (sharedSweep, sharedReach) = Dedup.withSharedPairs(spark, sf) {
      // the ONE build: materialized at scope entry, served by identity
      assert(Dedup.jaccardPairs(spark, sf) eq Dedup.jaccardPairs(spark, sf),
        "inside the scope, every consumer must get the same built frame")
      assert(
        (spark.sparkContext.getPersistentRDDs.keySet -- persistedBefore)
          .nonEmpty,
        "the shared build must checkpoint at scope entry")
      (rowsOf(Dedup.qThresholdSweep(spark, sf)),
        rowsOf(Dedup.qReachability(spark, sf)))
    }
    assert(sharedSweep === soloSweep)
    assert(sharedReach === soloReach)
    // scope exit restores standalone behavior (cache entry removed)
    assert(!(Dedup.jaccardPairs(spark, sf) eq Dedup.jaccardPairs(spark, sf)))
    // and is freshly enterable
    Dedup.withSharedPairs(spark, sf)(())
    // free consumer-side checkpoints so later suites start clean
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  test("re-entrancy per (session, dir) is rejected") {
    intercept[IllegalArgumentException] {
      Dedup.withSharedPairs(spark, sf) {
        Dedup.withSharedPairs(spark, sf)(())
      }
    }
  }

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  /** Ids of the checkpoints `q` leaves persisted once collected. */
  private def retained(q: => org.apache.spark.sql.DataFrame): Set[Int] = {
    val before = persisted
    q.collect()
    (persisted -- before).toSet
  }

  test("qKcore keeps one checkpoint, qLabelProp two: the pair pipeline is dropped") {
    val k = retained(Dedup.qKcore(spark, sf))
    assert(k.size === 1, "qKcore: only the final edge generation may stay")
    val lp = retained(Dedup.qLabelProp(spark, sf))
    assert(lp.size === 2, "qLabelProp: only the edges and final labels may stay")
    graft.functions.Cp.dropGeneration(spark, k ++ lp)
  }

  test("owned consumers inside withSharedPairs never drop the shared build") {
    val soloKcore = rowsOf(Dedup.qKcore(spark, sf))
    val soloLp = rowsOf(Dedup.qLabelProp(spark, sf))
    val soloPairs = rowsOf(Dedup.jaccardPairs(spark, sf, cappedSizes = true))
    Dedup.withSharedPairs(spark, sf) {
      assert(rowsOf(Dedup.qKcore(spark, sf)) === soloKcore)
      assert(rowsOf(Dedup.qLabelProp(spark, sf)) === soloLp)
      assert(rowsOf(Dedup.jaccardPairs(spark, sf)) === soloPairs,
        "the shared pair build must still read after its consumers ran")
    }
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }
}
