package graft

import org.apache.spark.sql.functions._
import graft.operators.{BinaryStore, IvfBinaryStore, IvfIndex, MaxSimStore,
  TextOps, VectorOps}

/** Snapshot time travel over the IVF store's manifest protocol: with a
  * widened retention window, every epoch's serve must replay
  * bit-identically from [[IvfIndex.serveAt]] AFTER later mutations have
  * run — including the pin that a historical read does NOT see later
  * deletes (tombstone sets are manifest-scoped). Also pins the
  * retention contract: the default window GCs historical data and
  * serveAt fails loudly, and narrowing the window lets vacuum reclaim
  * while the latest snapshot keeps serving. The flat stores' epoch reads
  * carry the same data-existence check.
  */
class TimeTravelSpec extends SparkSpec {

  private def tmp(name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_tt_spec/$name"

  private type Served = Set[(Long, Long, Long, Long, Long)]
  private def rows(df: org.apache.spark.sql.DataFrame): Served = {
    import spark.implicits._
    df.select("query_id", "rank", "neighbor", "dist", "cell_size")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
  }

  test("every retained epoch replays bit-identically, deletes stay epoch-scoped") {
    import spark.implicits._
    spark.conf.set("spark.graft.index.retainEpochs", "8")
    try {
      val emb = VectorOps.quantized(spark, sfDir)
      val dir = tmp("replay")
      val queries = emb.filter($"vec_id" % 100 === 0)
      IvfIndex.build(emb.filter($"vec_id" % 5 =!= 0), dir) // epoch 1
      val at1 = rows(IvfIndex.serve(spark, dir, queries))
      IvfIndex.addBatch(spark, dir, emb.filter($"vec_id" % 5 === 0)) // 2
      val at2 = rows(IvfIndex.serve(spark, dir, queries))
      IvfIndex.delete(spark, dir,
        emb.filter($"vec_id" % 7 === 0).select($"vec_id")) // epoch 3
      val at3 = rows(IvfIndex.serve(spark, dir, queries))
      IvfIndex.compact(spark, dir) // epoch 4
      val at4 = rows(IvfIndex.serve(spark, dir, queries))
      // the mutations were real: each epoch observed a different state
      assert(at1 != at2 && at2 != at3, "mutations changed nothing")
      assert(at3 === at4, "compaction must not change serve results")
      // time travel: each epoch replays exactly what it served live
      assert(rows(IvfIndex.serveAt(spark, dir, 1L, queries)) === at1)
      assert(rows(IvfIndex.serveAt(spark, dir, 2L, queries)) === at2)
      assert(rows(IvfIndex.serveAt(spark, dir, 3L, queries)) === at3)
      assert(rows(IvfIndex.serveAt(spark, dir, 4L, queries)) === at4)
      // the sharp edge: epoch 2 pre-dates the delete, so its read MUST
      // surface vectors the live snapshot has physically removed
      val deletedSeen = rows(IvfIndex.serveAt(spark, dir, 2L, queries))
        .count { case (_, _, n, _, _) => n % 7 == 0 }
      assert(deletedSeen > 0,
        "epoch-2 replay hid tombstones committed at epoch 3 — the mask leaked backwards")
      assert(!at4.exists { case (_, _, n, _, _) => n % 7 == 0 })
    } finally spark.conf.unset("spark.graft.index.retainEpochs")
  }

  test("labeled store: serveLabeledAt replays retained epochs; labeled clone pins them") {
    import spark.implicits._
    withIndexRetention(8) {
      val emb = VectorOps.quantizedLabeled(spark, sfDir)
      val queries = emb.filter($"vec_id" % 100 === 0)
      val dir = tmp("labtt")
      def served(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(_.toSeq).toSet
      IvfIndex.buildLabeled(emb.filter($"vec_id" % 5 =!= 0), dir,
        seedSmallest = true) // epoch 1
      val at1 = served(IvfIndex.serveLabeled(spark, dir, queries))
      IvfIndex.addBatchLabeled(spark, dir,
        emb.filter($"vec_id" % 5 === 0), gen = 1L) // epoch 2
      val at2 = served(IvfIndex.serveLabeled(spark, dir, queries))
      IvfIndex.delete(spark, dir,
        emb.filter($"vec_id" % 7 === 0).select($"vec_id")) // epoch 3
      val at3 = served(IvfIndex.serveLabeled(spark, dir, queries))
      IvfIndex.compact(spark, dir) // epoch 4
      val at4 = served(IvfIndex.serveLabeled(spark, dir, queries))
      assert(at1 != at2 && at2 != at3, "labeled mutations changed nothing")
      assert(at3 === at4, "compaction changed the filtered serve")
      // the labeled time-travel read: every retained epoch replays the
      // filtered serve bit-identically, deletes stay epoch-scoped
      (1L to 4L).zip(Seq(at1, at2, at3, at4)).foreach { case (ep, want) =>
        assert(served(IvfIndex.serveLabeledAt(spark, dir, ep, queries))
            === want, s"labeled epoch $ep replay drifted")
      }
      // snapshotDiff runs label-blind on the labeled layout: overall
      // adds = epoch-2 ingests not later deleted is WRONG — the diff is
      // vs epoch 3, which masks the delete, so adds exclude %7 ids and
      // removes are epoch-1 members the delete took away
      val diff = IvfIndex.snapshotDiff(spark, dir, 1L, 3L)
        .filter($"cid" === -1L).collect()(0)
      val wantAdded = emb.filter($"vec_id" % 5 === 0 &&
        $"vec_id" % 7 =!= 0).count()
      val wantRemoved = emb.filter($"vec_id" % 5 =!= 0 &&
        $"vec_id" % 7 === 0).count()
      assert(diff.getAs[Long]("n_added") === wantAdded)
      assert(diff.getAs[Long]("n_removed") === wantRemoved)
      // labeled clone of a retained EARLIER epoch serves it exactly,
      // and mutating the clone cannot reach the source's history
      val dst = tmp("labttclone")
      IvfIndex.cloneAt(spark, dir, 2L, dst)
      assert(served(IvfIndex.serveLabeled(spark, dst, queries)) === at2)
      IvfIndex.delete(spark, dst,
        emb.filter($"vec_id" % 3 === 0).select($"vec_id"))
      assert(served(IvfIndex.serveLabeledAt(spark, dir, 2L, queries))
          === at2, "clone mutation leaked into the source's epoch")
    }
  }

  test("the default retention window GCs history and serveAt fails loudly") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = tmp("gc")
    IvfIndex.build(emb.filter($"vec_id" % 5 =!= 0), dir) // epoch 1
    IvfIndex.addBatch(spark, dir, emb.filter($"vec_id" % 5 === 0)) // 2
    IvfIndex.delete(spark, dir,
      emb.filter($"vec_id" % 7 === 0).select($"vec_id")) // epoch 3
    IvfIndex.compact(spark, dir) // epoch 4 — GC keeps only the latest
    val e = intercept[IllegalArgumentException] {
      IvfIndex.serveAt(spark, dir, 1L,
        emb.filter($"vec_id" % 100 === 0)).collect()
    }
    assert(e.getMessage.contains("retainEpochs"))
  }

  test("snapshotDiff classifies a split as moves and a lifecycle as adds/removes") {
    import spark.implicits._
    spark.conf.set("spark.graft.index.retainEpochs", "8")
    try {
      // the split fixture from IvfIndexSpec: exactly cell 3 flags hot
      def vec(a: Long, b: Long, c: Long, d: Long) = Seq(a, b, c, d)
      val seeds = (0L until 16L).map(i => (i, vec(i * 10000, 0, 0, 0)))
      val crowd = (100L until 300L).map { i =>
        val sub = if (i % 2 == 0) 400L else -400L
        (i, vec(30000 + (i % 7), sub + (i % 5), 0, 0))
      }
      val fringe = (300L until 320L).map(i =>
        (i, vec((i % 16) * 10000, 3, 0, 0)))
      val emb = (seeds ++ crowd ++ fringe).toDF("vec_id", "qv")
      val dir = tmp("diffsplit")
      IvfIndex.build(emb, dir) // epoch 1
      val hotMass = IvfIndex.splitReport(spark, dir)
        .filter($"needs_split" === 1L).select($"n_total")
        .as[Long].head()
      IvfIndex.splitCells(spark, dir) // epoch 2
      val d12 = IvfIndex.snapshotDiff(spark, dir, 1L, 2L)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      val overall = d12(-1L)
      // a pure split: nothing added or removed, every hot vector moved
      assert(overall._2 === 0L && overall._3 === 0L)
      assert(overall._4 === hotMass && overall._5 === hotMass)
      assert(d12(3L)._5 === hotMass, "all moves must leave the hot cell")
      // and a delete shows up as removals, nothing moved
      IvfIndex.delete(spark, dir,
        emb.filter($"vec_id" % 2 === 0).select($"vec_id")) // epoch 3
      val d23 = IvfIndex.snapshotDiff(spark, dir, 2L, 3L)
        .as[(Long, Long, Long, Long, Long, Long)].collect()
        .map(r => r._1 -> r).toMap
      assert(d23(-1L)._3 === emb.filter($"vec_id" % 2 === 0).count())
      assert(d23(-1L)._2 === 0L && d23(-1L)._4 === 0L)
    } finally spark.conf.unset("spark.graft.index.retainEpochs")
  }

  test("narrowing retention lets vacuum reclaim history while the latest keeps serving") {
    import spark.implicits._
    spark.conf.set("spark.graft.index.retainEpochs", "8")
    try {
      val emb = VectorOps.quantized(spark, sfDir)
      val dir = tmp("narrow")
      val queries = emb.filter($"vec_id" % 100 === 0)
      IvfIndex.build(emb.filter($"vec_id" % 5 =!= 0), dir)
      IvfIndex.addBatch(spark, dir, emb.filter($"vec_id" % 5 === 0))
      IvfIndex.delete(spark, dir,
        emb.filter($"vec_id" % 7 === 0).select($"vec_id"))
      IvfIndex.compact(spark, dir)
      // under the wide window nothing is reclaimable...
      val wide = IvfIndex.vacuum(spark, dir)
        .as[(String, Long)].collect().toMap
      assert(wide.values.forall(_ == 0L), wide.toString)
      val live = rows(IvfIndex.serve(spark, dir, queries))
      // ...then the window narrows (policy change): vacuum reclaims the
      // pre-compaction generations and the applied tombstone sets
      spark.conf.set("spark.graft.index.retainEpochs", "1")
      val narrow = IvfIndex.vacuum(spark, dir)
        .as[(String, Long)].collect().toMap
      assert(narrow("orphan_gen_dirs") > 0L, narrow.toString)
      assert(narrow("orphan_tombstone_sets") > 0L, narrow.toString)
      assert(rows(IvfIndex.serve(spark, dir, queries)) === live,
        "reclaiming history changed the live serve")
    } finally spark.conf.unset("spark.graft.index.retainEpochs")
  }

  test("raising retainEpochs after a narrow window's GC cannot resurrect reclaimed epochs") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = tmp("resurrect")
    // the whole lifecycle under the DEFAULT 1-epoch window: compaction's
    // GC reclaims the folded generations and the tombstone set
    IvfIndex.build(emb.filter($"vec_id" % 5 =!= 0), dir) // epoch 1
    IvfIndex.addBatch(spark, dir, emb.filter($"vec_id" % 5 === 0)) // 2
    IvfIndex.delete(spark, dir,
      emb.filter($"vec_id" % 7 === 0).select($"vec_id")) // epoch 3
    IvfIndex.compact(spark, dir) // epoch 4; epoch 3's gens + tombs GC'd
    // policy change AFTER the fact: the conf-window check alone would
    // now pass for epoch 3 (manifest file survives as the spare) and a
    // pruned scan over the missing directories would silently serve
    // partial results — the existence check must fail loudly instead
    spark.conf.set("spark.graft.index.retainEpochs", "8")
    try {
      val e = intercept[IllegalStateException] {
        IvfIndex.serveAt(spark, dir, 3L,
          emb.filter($"vec_id" % 100 === 0)).collect()
      }
      assert(e.getMessage.contains("reclaimed"), e.getMessage)
      // the live head is untouched by the failed historical read
      assert(IvfIndex.serve(spark, dir,
        emb.filter($"vec_id" % 100 === 0 && $"vec_id" % 7 =!= 0))
        .count() > 0)
    } finally spark.conf.unset("spark.graft.index.retainEpochs")
  }

  test("a flat-store time-travel read fails loudly once GC has reclaimed its epoch") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val vq = VectorOps.binaryQueries(emb).limit(4)
    val docs = TextOps.docs(spark, sfDir)
    val dq = docs.filter($"doc_id" % 100 === 0)
    val odd = emb.filter($"vec_id" % 5 === 0)
    val victims = emb.filter($"vec_id" % 7 === 0).select($"vec_id")
    // per store: build (epoch 1), add (2), delete (3), compact (4), all
    // under the DEFAULT window, so compaction's GC reclaims epoch 3's
    // generations and tombstone set; and a serve at an optional epoch
    val stores = Seq[(String, String => Unit,
        (String, Option[Long]) => org.apache.spark.sql.DataFrame)](
      ("BinaryStore", d => {
        BinaryStore.build(emb.filter($"vec_id" % 5 =!= 0), d)
        BinaryStore.addBatch(spark, d, odd, 1L)
        BinaryStore.delete(spark, d, victims)
        BinaryStore.compact(spark, d)
      }, (d, e) => BinaryStore.serve(spark, d, vq, k = 5, epoch = e)),
      ("IvfBinaryStore", d => {
        IvfBinaryStore.build(emb.filter($"vec_id" % 5 =!= 0), d)
        IvfBinaryStore.addBatch(spark, d, odd, 1L)
        IvfBinaryStore.delete(spark, d, victims)
        IvfBinaryStore.compact(spark, d)
      }, (d, e) => IvfBinaryStore.serve(spark, d, vq, k = 5, epoch = e)),
      ("MaxSimStore", d => {
        MaxSimStore.build(docs.filter($"doc_id" % 3 =!= 2), d)
        MaxSimStore.addBatch(spark, d, docs.filter($"doc_id" % 3 === 2), 1L)
        MaxSimStore.delete(spark, d, docs.filter($"doc_id" % 7 === 0)
          .select($"doc_id"))
        MaxSimStore.compact(spark, d)
      }, (d, e) => MaxSimStore.serve(spark, d, dq, epoch = e)))
    stores.foreach { case (name, lifecycle, serve) =>
      val dir = tmp(s"flat_gc_$name")
      lifecycle(dir)
      withIndexRetention(8) {
        val e = intercept[IllegalStateException] {
          serve(dir, Some(3L)).collect()
        }
        assert(e.getMessage.contains("retention window"),
          s"$name: ${e.getMessage}")
        assert(serve(dir, None).count() > 0, s"$name: the head must serve")
      }
    }
  }

  test("a codebook retrain bumps pqVer; asof serves decode with the codebook of their epoch") {
    import spark.implicits._
    spark.conf.set("spark.graft.index.retainEpochs", "8")
    try {
      val emb = VectorOps.quantized(spark, sfDir)
      val dir = tmp("pqretrain")
      IvfIndex.buildPq(emb.filter($"vec_id" % 5 =!= 0), dir) // epoch 1
      val queries = emb.filter($"vec_id" % 100 === 0)
      val pre = IvfIndex.servePq(spark, dir, queries)
        .as[(Long, Long, Long, Long)].collect().toSet
      // ingest the held-out fifth (epoch 2), then RETRAIN the codebook
      // on the live corpus residuals — full re-encode, pqVer 1 -> 2
      IvfIndex.addBatchPq(spark, dir, emb.filter($"vec_id" % 5 === 0))
      IvfIndex.retrainPq(spark, dir, emb)
      assert(IvfIndex.readSnapshot(spark, dir).pqVer === 2L)
      assert(IvfIndex.postings(spark, dir).count() === emb.count(),
        "retrain must re-encode every live vector")
      // the historical epoch decodes with ITS codebook version against
      // ITS generations — bit-equal to what it served before anything
      // mutated, even though the live store now runs codebook v2
      val asof = IvfIndex.servePqAt(spark, dir, 1L, queries)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(asof === pre,
        "asof serve after a retrain must use the old codebook")
      assert(new java.io.File(s"$dir/pqcodebook_v1").exists)
      assert(new java.io.File(s"$dir/pqcodebook_v2").exists)
      // narrowing retention reclaims the superseded codebook version
      spark.conf.set("spark.graft.index.retainEpochs", "1")
      val rep = IvfIndex.vacuum(spark, dir)
        .as[(String, Long)].collect().toMap
      assert(rep("stale_pq_codebooks") === 1L, rep.toString)
      assert(!new java.io.File(s"$dir/pqcodebook_v1").exists)
      assert(new java.io.File(s"$dir/pqcodebook_v2").exists)
      // the live store is untouched by the reclamation
      assert(IvfIndex.servePq(spark, dir, queries).count() > 0)
    } finally spark.conf.unset("spark.graft.index.retainEpochs")
  }
}
