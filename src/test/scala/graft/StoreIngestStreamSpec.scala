package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Streaming standing-store ingest (SURVEY §2 lib rows):
  * [[graft.streaming.StreamingOps.storeIngest]] /
  * [[graft.streaming.StreamingOps.vectorStoreIngest]] — the
  * foreachBatch lifecycle sink. The gated property is EXACTLY-ONCE
  * STORE CONTENTS under at-least-once micro-batch delivery: a
  * crash-replayed batch appends nothing (the append verbs' novelty
  * anti-joins), and the final stores are row-identical to the
  * batch-API twin fed the same batches. Fixtures plant cross-batch
  * duplicates explicitly — the shipped small SFs carry none, and
  * AQE's empty-relation propagation would erase the very append
  * branches under test (the round-14 lesson). */
class StoreIngestStreamSpec extends AnyFunSuite {
  import TestSpark.spark
  import spark.implicits._
  import streaming.StreamingOps

  /** Deterministic novel docs: every token unique to (tag, id), ≥70
    * tokens so anchor windows exist far above the admit gates. */
  private def docRows(ids: Seq[Long], tag: String) =
    ids.map { i =>
      val text = (0 until 70).map(j => s"w$tag${i}t$j").mkString(" ")
      (i, text, "en", if (i % 2 == 0) "web" else "books",
        text.length.toLong)
    }

  private def docStores(d: String) = Seq(
    operators.Dedup.fpStoreTable(d), operators.Dedup.bandStoreTable(d),
    operators.TextAnalysis.anchorStoreTable(d))

  private def counts(tbls: Seq[String]): Seq[Long] =
    tbls.map(t => spark.table(t).count())

  private def contents(t: String): Seq[String] =
    spark.table(t).collect().map(_.toString).sorted.toSeq

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  /** Fresh corpus dirs over the test SF's documents, stores dropped. */
  private def freshDocDirs(dirs: String*): Unit = {
    val base = spark.read.parquet(TestSpark.sf + "/documents.parquet")
    dirs.foreach(d => base.write.mode("overwrite")
      .parquet(d + "/documents.parquet"))
    dirs.flatMap(docStores).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  /** The batch-API twin: `batches` through the Scala appends, in order;
    * then every streamed store must equal its twin row-for-row. */
  private def assertEqualsBatchTwin(dirS: String, dirB: String,
      batches: Seq[Seq[(Long, String, String, String, Long)]]): Unit = {
    operators.Dedup.ensureFpStore(spark, dirB)
    operators.Dedup.ensureBandStore(spark, dirB)
    operators.TextAnalysis.ensureAnchorStore(spark, dirB)
    batches.map(_.toDF(docCols: _*)).foreach { b =>
      operators.Dedup.appendFpStore(spark, dirB, b)
      operators.Dedup.appendBandStore(spark, dirB, b)
      operators.TextAnalysis.appendAnchorStore(spark, dirB, b)
    }
    docStores(dirB).foreach(spark.catalog.refreshTable)
    docStores(dirS).zip(docStores(dirB)).foreach { case (s, b) =>
      assert(contents(s) === contents(b),
        s"streamed store $s must equal batch twin $b row-for-row")
    }
  }

  test("storeIngest: batches land once, verbatim replay is a no-op, " +
       "stores equal the batch-API twin") {
    val dirS = "/tmp/graft_streamingest_s" // streaming side
    val dirB = "/tmp/graft_streamingest_b" // batch-API twin
    freshDocDirs(dirS, dirB)

    // batch 1: 8 novel docs; batch 2: 4 VERBATIM cross-batch
    // duplicates of batch 1 (must be anti-joined away) + 4 novel
    val b1 = docRows(9000001L to 9000008L, "a")
    val b2 = b1.take(4) ++ docRows(9000009L to 9000012L, "b")

    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    // compactEvery=2 → the second micro-batch triggers compaction:
    // the equality asserts below also prove compaction is content-
    // preserving (the twin never compacts)
    val q = StreamingOps.storeIngest(
      in.toDF().toDF(docCols: _*), dirS, compactEvery = 2).start()
    val afterTwo = try {
      in.addData(b1: _*); q.processAllAvailable()
      in.addData(b2: _*); q.processAllAvailable()
      docStores(dirS).foreach(spark.catalog.refreshTable)
      val c = counts(docStores(dirS))
      // at-least-once delivery: the SAME rows arrive again as a new
      // micro-batch (the post-crash replay shape)
      in.addData(b2: _*); q.processAllAvailable()
      docStores(dirS).foreach(spark.catalog.refreshTable)
      assert(counts(docStores(dirS)) === c,
        "verbatim replay must append nothing to any store")
      c
    } finally q.stop()
    assert(afterTwo.forall(_ > 0))

    // batch-API twin: same two batches through the Scala appends
    assertEqualsBatchTwin(dirS, dirB, Seq(b1, b2))
  }

  test("storeIngest alongside serving queries: neither drops the " +
       "other's checkpoints") {
    // ingest and serving share one SparkContext (one application);
    // every micro-batch's scoped checkpoints and every serving query's
    // rolled generations are taken on different threads at once
    val dirS = "/tmp/graft_streamingest_cs"
    val dirB = "/tmp/graft_streamingest_cb"
    freshDocDirs(dirS, dirB)
    def serve(): Seq[String] = operators.Dedup.qKcore(spark, TestSpark.sf)
      .collect().map(_.toString).sorted.toSeq
    val serial = serve()

    val b1 = docRows(9100001L to 9100008L, "c")
    val b2 = b1.take(4) ++ docRows(9100009L to 9100012L, "d")
    val b3 = b2.takeRight(2) ++ docRows(9100013L to 9100016L, "e")
    val in = MemoryStream[(Long, String, String, String, Long)](spark)
    val q = StreamingOps.storeIngest(
      in.toDF().toDF(docCols: _*), dirS, compactEvery = 2).start()
    val served = try Seq(b1, b2, b3).flatMap { b =>
      in.addData(b: _*)
      // a waiter thread blocks on the stream; this thread serves until
      // the micro-batch has committed (at least once per batch)
      val drained = new Thread(() => q.processAllAvailable())
      drained.start()
      val out = scala.collection.mutable.ListBuffer(serve())
      while (drained.isAlive) out += serve()
      drained.join()
      out
    } finally q.stop()
    assert(q.exception.isEmpty, s"ingest failed: ${q.exception}")
    served.foreach(r => assert(r === serial,
      "a serving result changed while the stream ingested"))
    docStores(dirS).foreach(spark.catalog.refreshTable)
    assertEqualsBatchTwin(dirS, dirB, Seq(b1, b2, b3))
  }

  test("vectorStoreIngest: graph+ivf grow once and replay is a no-op") {
    val dirS = "/tmp/graft_streamingest_vs"
    val dirB = "/tmp/graft_streamingest_vb"
    val base = spark.read.parquet(TestSpark.sf + "/embeddings.parquet")
    Seq(dirS, dirB).foreach(d => base.write.mode("overwrite")
      .parquet(d + "/embeddings.parquet"))
    def vecStores(d: String) = {
      val g = operators.Similarity.graphStoreTable(d)
      Seq(g, operators.Similarity.graphNodesTable(g),
        operators.Similarity.ivfStoreTable(d))
    }
    (vecStores(dirS) ++ vecStores(dirB))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

    // novel vector batch: ids shifted out of the corpus key space,
    // components shifted so the node table's content hash is new
    val vb = base.filter(pmod($"vec_id", lit(10)) === 3)
      .select(($"vec_id" + lit(1000000000L)).as("vec_id"),
        transform($"embedding", x => x + lit(0.001f)).as("embedding"))
      .as[(Long, Array[Float])].collect().toSeq
    assert(vb.nonEmpty)

    val in = MemoryStream[(Long, Array[Float])](spark)
    val q = StreamingOps.vectorStoreIngest(
      in.toDF().toDF("vec_id", "embedding"), dirS).start()
    val after = try {
      in.addData(vb: _*); q.processAllAvailable()
      vecStores(dirS).foreach(spark.catalog.refreshTable)
      val c = counts(vecStores(dirS))
      in.addData(vb: _*); q.processAllAvailable() // replay
      vecStores(dirS).foreach(spark.catalog.refreshTable)
      assert(counts(vecStores(dirS)) === c,
        "replayed vector batch must insert nothing (node-table novelty)")
      c
    } finally q.stop()
    assert(after.forall(_ > 0))

    // batch twin: identical standing stores + one append each
    val gB = operators.Similarity.ensureGraphStore(spark, dirB)
    operators.Similarity.ensureIvfStore(spark, dirB)
    val vbdf = vb.toDF("vec_id", "embedding")
    operators.Similarity.appendGraphStore(spark, gB, vbdf)
    operators.Similarity.appendIvfStore(spark, dirB, vbdf)
    vecStores(dirB).foreach(spark.catalog.refreshTable)
    vecStores(dirS).zip(vecStores(dirB)).foreach { case (s, b) =>
      assert(contents(s) === contents(b),
        s"streamed vector store $s must equal batch twin $b")
    }
  }
}
