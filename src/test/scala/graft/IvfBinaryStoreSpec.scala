package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfBinaryStore, VectorOps}

/** q207/q208 composed tier: the persisted serve must be row-identical
  * to the in-memory q207 report, a serve's codes scan must
  * partition-prune to the probed cells' directories, and the lifecycle
  * (exactly-once ingest, delete masking, compaction, time travel) must
  * hold under the fixed router.
  */
class IvfBinaryStoreSpec extends SparkSpec {

  private lazy val dir = {
    val d = java.nio.file.Files
      .createTempDirectory("graft_ivfbin").toString
    IvfBinaryStore.build(VectorOps.quantized(spark, sfDir), d)
    d
  }

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  test("store serveReport equals the in-memory q207 report") {
    val q207 = VectorOps.defs("q207_ivf_binary")(spark, sfDir)
    val emb = VectorOps.quantized(spark, sfDir)
    val stored = IvfBinaryStore.serveReport(spark, sfDir, dir,
      VectorOps.binaryQueries(emb))
    assert(rows(stored) == rows(q207))
  }

  test("a low-nprobe serve partition-prunes the codes directories") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val one = VectorOps.binaryQueries(emb).limit(1)
    val served = IvfBinaryStore.serve(spark, dir, one, k = 5,
      nprobe = 1, width = 20)
    served.collect()
    val allFiles = spark.read.parquet(s"$dir/codes").inputFiles.length
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(qs.plan)
      case r: org.apache.spark.sql.execution.ReusedSubqueryExec =>
        scans(r.child)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case o => (o.children ++ o.subqueries).flatMap(scans)
    }
    // the serve checkpoints its shortlist, so the codes scan lives in
    // the checkpoint's plan — drive the REAL probed-codes stage
    // directly for the metric
    val routed = VectorOps.ivfBinRoute(one.localCheckpoint(true),
      IvfBinaryStore.centroids(spark, dir)).filter($"prank" <= 1)
    assert(routed.select($"cid").distinct().count() == 1)
    val probed = IvfBinaryStore.probedCodes(spark, dir,
      graft.operators.FlatManifest.read(spark, dir), routed)
    probed.collect()
    val scanned = scans(probed.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("codes")))
      .map(_.metrics("numFiles").value).max
    assert(scanned < allFiles,
      s"one-cell serve read $scanned of $allFiles code files — no pruning")
  }

  test("lifecycle: exactly-once ingest, delete mask, compaction, travel") {
    import spark.implicits._
    withIndexRetention(4) {
      val d = java.nio.file.Files
        .createTempDirectory("graft_ivfbin_life").toString
      val emb = VectorOps.quantized(spark, sfDir)
      IvfBinaryStore.build(emb.filter($"vec_id" % 3 =!= 2), d)
      val batch = emb.filter($"vec_id" % 3 === 2)
      IvfBinaryStore.addBatch(spark, d, batch, gen = 1L)
      val afterOnce = IvfBinaryStore.liveCodes(spark, d).count()
      IvfBinaryStore.addBatch(spark, d, batch, gen = 1L)
      assert(IvfBinaryStore.liveCodes(spark, d).count() == afterOnce,
        "replayed generation must be a no-op")
      assert(afterOnce == emb.count())
      // ingest does not move existing rows: cell membership is the
      // fixed router's assignment for every generation
      val cents = IvfBinaryStore.centroids(spark, d)
      val want = VectorOps.argminPacked(emb, cents)
        .select($"vec_id", $"cid").as[(Long, Long)].collect().toSet
      val got = IvfBinaryStore.liveCodes(spark, d)
        .select($"vec_id", $"cid").as[(Long, Long)].collect().toSet
      assert(got == want)
      val epochNow = graft.operators.FlatManifest.read(spark, d).epoch
      IvfBinaryStore.delete(spark, d,
        emb.filter($"vec_id" % 10 === 1).select($"vec_id"))
      val live = IvfBinaryStore.liveCodes(spark, d)
      assert(live.filter($"vec_id" % 10 === 1).count() == 0)
      val liveN = live.count()
      // time travel to the pre-delete epoch sees the deleted rows;
      // the latest snapshot masks them (same routed batch both reads)
      val queries = VectorOps.binaryQueries(emb).limit(4)
        .localCheckpoint(true)
      val routedAll = VectorOps.ivfBinRoute(queries,
        IvfBinaryStore.centroids(spark, d)).localCheckpoint(true)
      val oldSnap = graft.operators.FlatManifest.readAt(spark, d,
        epochNow)(_ => ())
      val newSnap = graft.operators.FlatManifest.read(spark, d)
      assert(IvfBinaryStore.probedCodes(spark, d, oldSnap, routedAll)
        .filter($"vec_id" % 10 === 1).count() > 0,
        "time-travel snapshot must still see pre-delete rows")
      assert(IvfBinaryStore.probedCodes(spark, d, newSnap, routedAll)
        .filter($"vec_id" % 10 === 1).count() == 0)
      val post = IvfBinaryStore.serve(spark, d, queries, k = 5)
      assert(post.filter($"neighbor" % 10 === 1).count() == 0)
      val postRows = rows(post)
      IvfBinaryStore.compact(spark, d)
      assert(IvfBinaryStore.liveCodes(spark, d).count() == liveN)
      assert(rows(IvfBinaryStore.serve(spark, d, queries, k = 5))
        == postRows, "compaction must be serve-transparent")
      val snap = graft.operators.FlatManifest.read(spark, d)
      assert(snap.gens.length == 1 && snap.gens.head < 0 &&
        snap.tombs.isEmpty)
    }
  }
}
