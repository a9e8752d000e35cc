package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Mechanics of the house checkpoints. Partitioning-preserving ones
  * (Cp.localClustered / Cp.localClusteredAs / Bridge.claimClustered):
  * results must be bit-identical to the plain checkpoint path, the
  * declared layout must actually eliminate exchanges (and sorts, when
  * order is declared) for same-key consumers INCLUDING self-joins
  * (LogicalRDD.newInstance must remap the partitioning attributes on
  * dedup — if Spark ever stops doing that, the exchange reappears and
  * this spec fails before a silent perf regression ships), and a
  * false/misapplied claim must be rejected loudly. Generation scopes
  * (Cp.scoped / Cp.owned): a scope owns only the checkpoints taken on
  * its own thread, so exiting it never drops a concurrent query's. */
class ClusteredCpSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def mkDf = spark.range(0, 5000)
    .select((col("id") % 97).as("k"), col("id").as("v"))

  test("localClustered: identical rows, zero-exchange agg and self-join") {
    val plain = graft.functions.Cp.local(mkDf)
    val clus = graft.functions.Cp.localClustered(mkDf.toDF(), 8, Seq("k"))
    assert(clus.collect().map(_.toString).sorted.toSeq ===
      plain.collect().map(_.toString).sorted.toSeq)
    val aggPlan = clus.groupBy($"k").agg(count(lit(1)).as("n"))
      .queryExecution.sparkPlan.toString
    assert(!aggPlan.contains("Exchange hashpartitioning"),
      s"same-key agg re-shuffled a clustered checkpoint:\n$aggPlan")
    val j = clus.as("a").join(clus.as("b").hint("merge"), "k")
    val jPlan = j.queryExecution.sparkPlan.toString
    assert(!jPlan.contains("Exchange hashpartitioning"),
      s"co-partitioned self-join re-shuffled:\n$jPlan")
    assert(j.count() ===
      plain.as("a").join(plain.as("b").hint("merge"), "k").count())
  }

  test("localClusteredAs sorted: merge self-join needs no exchange and no sort") {
    val base = graft.functions.Cp.localClustered(mkDf.toDF(), 8, Seq("k"))
    // the production shape: a merge semi-join inherits the clustering
    // and leaves its streamed side ascending on the key
    val rare = base.groupBy($"k").agg(count(lit(1)).as("c"))
      .filter($"c" >= 1).select($"k")
    val dsr = graft.functions.Cp.localClusteredAs(
      base.join(rare.hint("merge"), Seq("k"), "left_semi"),
      8, Seq("k"), sorted = true)
    val j = dsr.as("a").join(dsr.as("b").hint("merge"), "k")
    val jPlan = j.queryExecution.sparkPlan.toString
    assert(!jPlan.contains("Exchange hashpartitioning"),
      s"sorted-clustered self-join re-shuffled:\n$jPlan")
    assert(!jPlan.contains("Sort ["),
      s"sorted-clustered merge self-join re-sorted:\n$jPlan")
    assert(j.count() ===
      base.as("a").join(base.as("b").hint("merge"), "k").count())
  }

  test("claims are rejected on non-checkpointed frames and wrong partition counts") {
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.Bridge.claimClustered(mkDf.toDF(), 8, Seq("k"))
    }
    val ck = graft.functions.Cp.local(mkDf.repartition(8, col("k"))).toDF()
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.Bridge.claimClustered(ck, 16, Seq("k"))
    }
    intercept[IllegalArgumentException] {
      org.apache.spark.sql.graft.Bridge.claimClustered(ck, 8, Seq("nope"))
    }
  }

  private def persisted = spark.sparkContext.getPersistentRDDs.keySet

  private def rddId(df: org.apache.spark.sql.Dataset[_]): Int =
    df.queryExecution.analyzed
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD].rdd.id

  test("a scope drops its own thread's checkpoints, never another thread's") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var scopedId = -1
    @volatile var failure: Throwable = null
    val a = new Thread(() =>
      try graft.functions.Cp.scoped(spark) {
        scopedId = rddId(graft.functions.Cp.local(spark.range(0, 10).toDF()))
        entered.countDown()
        assert(release.await(60, TimeUnit.SECONDS))
      } catch { case t: Throwable => failure = t; entered.countDown() })
    a.start()
    assert(entered.await(60, TimeUnit.SECONDS))
    // checkpointed on THIS thread while thread A's scope is open
    val mine = graft.functions.Cp.local(spark.range(0, 1000).toDF())
    val id = rddId(mine)
    assert(persisted.contains(id))
    release.countDown()
    a.join(60000)
    assert(failure == null, s"thread A failed: $failure")
    assert(!persisted.contains(scopedId),
      "the scope must drop the checkpoint its own thread took")
    assert(persisted.contains(id),
      "the scope dropped a checkpoint another thread took")
    assert(mine.count() === 1000)
    graft.functions.Cp.dropGeneration(spark, Set(id))
  }

  test("owned reports the ids its body checkpointed, nested scopes included") {
    val ((a, innerIds), ids) = graft.functions.Cp.owned {
      val a = graft.functions.Cp.local(spark.range(0, 10).toDF())
      val (_, inner) = graft.functions.Cp.owned(
        graft.functions.Cp.localClustered(mkDf.toDF(), 8, Seq("k")))
      (a, inner)
    }
    assert(innerIds.size === 1)
    assert(ids === innerIds + rddId(a))
    assert(ids.subsetOf(persisted))
    graft.functions.Cp.dropGeneration(spark, ids)
    assert(ids.intersect(persisted).isEmpty)
  }
}
