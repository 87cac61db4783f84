package graft

import org.apache.spark.sql.functions._
import graft.operators.{BinaryStore, IvfIndex, VectorOps}

/** q195 persisted binary tier: the stored serve must be row-identical
  * to the in-memory q191 stages, the refine fetch must prune vector
  * bucket directories, and stage 1 must read only the codes relation.
  */
class BinaryStoreSpec extends SparkSpec {

  private lazy val dir = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_binstore").toString
    BinaryStore.build(VectorOps.quantized(spark, sfDir), d)
    d
  }

  test("store serve stages are row-identical to the in-memory plan") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val queries = VectorOps.binaryQueries(emb)
    val codes = VectorOps.binaryCodes(emb)
    val memShort = VectorOps.hamShortlist(codes, queries, 20)
    val memRef = VectorOps.refineRank(memShort, emb, queries)
    val (stShort, stRef) = BinaryStore.serveStages(spark, dir, queries, 20)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(stShort) == rows(memShort))
    assert(rows(stRef.select($"query_id", $"neighbor", $"srank", $"dist",
      $"rrank")) == rows(memRef.select($"query_id", $"neighbor", $"srank",
      $"dist", $"rrank")))
    // and the gate entry equals q191's report exactly
    val q191 = VectorOps.defs("q191_binary_sign_ann")(spark, sfDir)
    val q195 = VectorOps.defs("q195_binary_store")(spark, sfDir)
    assert(rows(q195) == rows(q191))
  }

  test("a single-query serve prunes vector bucket directories") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val one = VectorOps.binaryQueries(emb).limit(1)
    val (_, refined) = BinaryStore.serveStages(spark, dir, one, 20)
    refined.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[(String, Long)] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        Seq(f.relation.location.rootPaths.head.toString ->
          f.metrics("numFiles").value)
      case other =>
        other.children.flatMap(scans) ++
          other.subqueries.flatMap(scans) ++
          other.innerChildren.collect {
            case sp: org.apache.spark.sql.execution.SparkPlan => sp
          }.flatMap(scans)
    }
    val vecScans = scans(refined.queryExecution.executedPlan)
      .filter(_._1.contains("vectors")).distinct
    assert(vecScans.nonEmpty)
    val scanned = vecScans.map(_._2).sum
    // 20 shortlist ids touch at most 20 of the 64 bucket files
    assert(scanned > 0 && scanned <= 20,
      s"vector fetch read $scanned bucket files for one query")
  }

  test("store serve stream equals the batch serve at every boundary") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val emb = VectorOps.quantized(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    val queries = emb.filter(_._1 % 50 == 0).take(12).map { case (id, v) =>
      graft.streaming.StreamOps.VecEvent(id,
        new java.sql.Timestamp(1_436_918_400_000L), v)
    }
    val got = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long)]()
    withIndexRetention(2) {
      val in = MemoryStream[graft.streaming.StreamOps.VecEvent]
      val q = graft.streaming.StreamOps.binaryStoreServeStream(
        in.toDS(), dir, k = 5) { (df, _) =>
        got ++= df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      }
      try {
        in.addData(queries.take(5).toSeq); q.processAllAvailable()
        in.addData(queries.drop(5).toSeq); q.processAllAvailable()
      } finally q.stop()
    }
    val qdf = VectorOps.binaryCodes(
      queries.toSeq.toDF("vec_id", "ts", "qv").select($"vec_id", $"qv"))
      .select($"vec_id".as("query_id"), $"qv".as("q_qv"),
        $"w0".as("qw0"), $"w1".as("qw1"))
    val want = BinaryStore.serve(spark, dir, qdf, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.sortBy(x => (x._1, x._2)).toSeq ==
      want.sortBy(x => (x._1, x._2)).toSeq)
  }

  test("serve stream picks up a MID-STREAM commit on the next trigger") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    withIndexRetention(2) {
      val d = java.nio.file.Files
        .createTempDirectory("graft_binstore_mut").toString
      val emb = VectorOps.quantized(spark, sfDir)
      BinaryStore.build(emb.filter($"vec_id" % 2 === 0), d)
      val queries = emb.collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .filter(_._1 % 50 == 0).take(8).map { case (id, v) =>
          graft.streaming.StreamOps.VecEvent(id,
            new java.sql.Timestamp(1_436_918_400_000L), v)
        }
      val qdf = VectorOps.binaryCodes(
        queries.toSeq.toDF("vec_id", "ts", "qv").select($"vec_id", $"qv"))
        .select($"vec_id".as("query_id"), $"qv".as("q_qv"),
          $"w0".as("qw0"), $"w1".as("qw1"))
      val perBatch =
        scala.collection.mutable.ArrayBuffer[Set[(Long, Long, Long, Long)]]()
      val in = MemoryStream[graft.streaming.StreamOps.VecEvent]
      val q = graft.streaming.StreamOps.binaryStoreServeStream(
        in.toDS(), d, k = 5) { (df, _) =>
        perBatch += df.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      }
      try {
        def batchServe() = BinaryStore.serve(spark, d, qdf, k = 5)
          .collect().map(r =>
            (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
        // trigger 1 against the base epoch
        val wantBase = batchServe()
        in.addData(queries.toSeq); q.processAllAvailable()
        // commit an ingest + a delete between triggers
        BinaryStore.addBatch(spark, d, emb.filter($"vec_id" % 2 === 1),
          gen = 1L)
        BinaryStore.delete(spark, d,
          emb.filter($"vec_id" % 11 === 0).select($"vec_id"))
        val wantMut = batchServe()
        in.addData(queries.toSeq); q.processAllAvailable()
        // and a compaction (epoch bump, old generations GC'd after
        // the retained window) must stay serve-transparent
        BinaryStore.compact(spark, d)
        in.addData(queries.toSeq); q.processAllAvailable()
        assert(perBatch.size === 3)
        assert(perBatch(0) === wantBase)
        assert(perBatch(1) === wantMut,
          "second trigger did not see the mid-stream commit")
        assert(perBatch(2) === wantMut,
          "compaction changed the served rows")
        assert(wantBase !== wantMut,
          "mutation should have changed some served neighbor")
      } finally q.stop()
    }
  }

  test("labeled layout: label-partitioned codes, same-label pruned serve") {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory("graft_binstore_lbl").toString
    val emb = VectorOps.quantizedLabeled(spark, sfDir)
    BinaryStore.buildLabeled(emb, d)
    // layout: every codes file lives under label=…/gen=…
    val files = spark.read.parquet(s"$d/codes").inputFiles
    assert(files.nonEmpty && files.forall(_.contains("/label=")),
      s"codes not label-partitioned: ${files.take(2).mkString(",")}")
    // a one-label batch's stage-1 relation statically prunes to that
    // label's directories — the filter the labeled serve applies
    // (inputFiles ignores pruning; read the scan's numFiles METRIC)
    val labels = emb.select($"label").distinct().as[Long].collect()
    assert(labels.length > 1, "fixture needs >1 label")
    val one = spark.read.parquet(s"$d/codes")
      .filter($"label" === labels.min)
    one.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(qs.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(scans)
    }
    val pruned = scans(one.queryExecution.executedPlan)
      .map(_.metrics("numFiles").value).max
    assert(pruned < files.length,
      s"label filter read $pruned of ${files.length} code files")
    // every served neighbor carries the query's label
    val queries = VectorOps.binaryQueriesLabeled(emb)
    val served = BinaryStore.serveLabeled(spark, d, queries, k = 5)
    val lbl = emb.select($"vec_id", $"label")
      .as[(Long, Long)].collect().toMap
    val qlbl = queries.select($"query_id", $"label")
      .as[(Long, Long)].collect().toMap
    served.select($"query_id", $"neighbor").as[(Long, Long)].collect()
      .foreach { case (q, n) =>
        assert(lbl(n) == qlbl(q), s"query $q (label ${qlbl(q)}) " +
          s"served cross-label neighbor $n (label ${lbl(n)})")
      }
  }

  test("serve returns the refined top-k in rank order") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val queries = VectorOps.binaryQueries(emb)
    val top = BinaryStore.serve(spark, dir, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    top.groupBy(_._1).foreach { case (_, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq)
    }
    // rank-1 of a corpus query is its own nearest non-self neighbor:
    // dist must be the minimum over the refined candidates
    val (_, refined) = BinaryStore.serveStages(spark, dir, queries, 20)
    val best = refined.groupBy($"query_id").agg(min($"dist").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    BinaryStore.serve(spark, dir, queries, k = 1).collect().foreach { r =>
      assert(r.getLong(3) == best(r.getLong(0)))
    }
  }

  test("vacuum counts a committed generation's leftover tmp dir as tmp_gen_dirs") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val shared = Set("orphan_gen_dirs", "tmp_gen_dirs",
      "orphan_tombstone_sets", "tmp_manifests")
    // per store: its build (commits gen 0), vacuum, the data root whose
    // tmp dir a crash leaves, and the kinds its vacuum reports
    Seq[(String, String => Unit, String => org.apache.spark.sql.DataFrame,
        String, Set[String])](
      ("BinaryStore", BinaryStore.build(emb, _), BinaryStore.vacuum(spark, _),
        "codes", shared),
      ("IvfIndex", IvfIndex.build(emb, _), IvfIndex.vacuum(spark, _),
        "postings", shared ++ Set("orphan_cell_dirs",
          "stale_centroid_versions", "stale_pq_codebooks"))
    ).foreach { case (kind, build, vacuum, root, kinds) =>
      val d = java.nio.file.Files.createTempDirectory("graft_bin_tmpgen")
        .toString
      build(d)
      // the write-then-rename crash window, replayed to a commit since:
      // the tmp data dir of the committed generation is garbage
      val leftover = new java.io.File(s"$d/$root/.gen-tmp-0")
      assert(leftover.mkdirs())
      val report = vacuum(d).as[(String, Long)].collect().toMap
      assert(report.keySet === kinds, s"$kind: $report")
      assert(report("tmp_gen_dirs") === 1L, s"$kind: $report")
      assert(report("tmp_manifests") === 0L, s"$kind: $report")
      assert(!leftover.exists, kind)
    }
  }
}
