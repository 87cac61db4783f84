package graft

import org.apache.spark.sql.functions._
import graft.operators.{BinaryStore, IvfIndex, VectorOps}

/** q195 persisted binary tier: the stored serve must be row-identical
  * to the in-memory q191 stages, the refine fetch must read only the
  * live generations' vectors and return only the shortlist ids, and a
  * micro-batch add must publish one file per root.
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

  private def scans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      scans(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      scans(q.plan)
    case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
    case other =>
      other.children.flatMap(scans) ++
        other.subqueries.flatMap(scans) ++
        other.innerChildren.collect {
          case sp: org.apache.spark.sql.execution.SparkPlan => sp
        }.flatMap(scans)
  }

  /** The parquet files directly under `path`. */
  private def parquetFiles(path: String): Seq[String] =
    Option(new java.io.File(path).list()).toSeq.flatten
      .filter(_.endsWith(".parquet"))

  test("a single-query fetch reads only the live generations' vectors files") {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory("graft_binstore_fetch").toString
    val emb = VectorOps.quantized(spark, sfDir)
    BinaryStore.build(emb.filter($"vec_id" % 2 === 0), d)
    BinaryStore.addBatch(spark, d, emb.filter($"vec_id" % 2 === 1), gen = 1L)
    // an attempt that never committed: generation 1's vectors again as
    // generation 7, which no manifest names
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(s"$d/vectors/gen=1"), new java.io.File(s"$d/vectors/gen=7"))
    val live = Seq(0, 1).map(g => parquetFiles(s"$d/vectors/gen=$g").size).sum
    assert(live > 0 && parquetFiles(s"$d/vectors/gen=7").nonEmpty)
    val one = VectorOps.binaryQueries(emb).limit(1)
    val (shortlist, _) = BinaryStore.serveStages(spark, d, one, 20)
    val ids = shortlist.select($"neighbor").as[Long].collect().toSet
    val fetch = BinaryStore.refineFetch(spark, d,
      graft.operators.FlatManifest.read(spark, d), shortlist)
    val rows = fetch.collect().map(_.getAs[Long]("vec_id"))
    // exactly the shortlist ids, each once
    assert(ids.size == 20 && rows.sorted.toSeq == ids.toSeq.sorted)
    // from the live generations' files only
    val read = scans(fetch.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("vectors")))
      .map(_.metrics("numFiles").value).sum
    assert(read == live,
      s"the fetch read $read vectors files, the live generations hold $live")
  }

  test("a 256-row addBatch publishes exactly one vectors file and one codes file") {
    import spark.implicits._
    val d = java.nio.file.Files
      .createTempDirectory("graft_binstore_files").toString
    BinaryStore.build(VectorOps.quantized(spark, sfDir), d)
    val rng = new scala.util.Random(7)
    val batch = (0 until 256).map(i =>
      (1000000L + i, Seq.fill(64)(rng.nextInt(2001) - 1000L))).toDF("vec_id", "qv")
    assert(batch.rdd.getNumPartitions > 1)
    BinaryStore.addBatch(spark, d, batch, gen = 1L)
    Seq("codes", "vectors").foreach { root =>
      val files = parquetFiles(s"$d/$root/gen=1")
      assert(files.size == 1, s"$root generation 1 holds ${files.size} files")
    }
    // and nothing below the generation directory
    assert(new java.io.File(s"$d/vectors/gen=1").listFiles().forall(_.isFile))
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
