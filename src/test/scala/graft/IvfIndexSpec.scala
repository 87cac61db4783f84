package graft

import org.apache.spark.sql.functions._
import graft.operators.{BinaryStore, FlatManifest, IvfIndex, ManifestState,
  VectorOps}

/** Persisted-IVF-index evidence: the parquet roundtrip is lossless, the
  * stored-index serve equals an in-memory serve, incremental ingest
  * assigns exactly like a fresh broadcast-argmin against the stored
  * centroids, and the occupancy/split report reconciles with the raw
  * posting files.
  */
class IvfIndexSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_ivf_$name").toString

  test("build persists a lossless centroid + posting roundtrip") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = tmp("rt")
    IvfIndex.build(emb, dir)
    val cents = IvfIndex.centroids(spark, dir)
    val post = IvfIndex.postings(spark, dir)
    assert(cents.count() <= 16 && cents.count() >= 1)
    // every corpus vector is stored exactly once, with its vector intact
    assert(post.count() === emb.count())
    val stored = post.select($"vec_id", $"qv").as[(Long, Seq[Long])]
      .collect().toMap
    val orig = emb.as[(Long, Seq[Long])].collect().toMap
    assert(stored === orig, "stored qv must roundtrip bit-exactly")
    // postings are laid out one directory per cell (the pruning unit)
    val cells = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).toSet
    assert(cells.nonEmpty &&
      cells == cents.select($"cid").as[Long].collect()
        .filter(c => post.filter($"cid" === c).count() > 0)
        .map(c => s"cid=$c").toSet)
  }

  test("stored-index serve equals the in-memory serve, and prunes to probed cells") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = tmp("serve")
    IvfIndex.build(emb, dir)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val served = IvfIndex.serve(spark, dir, queries)
    // in-memory reference: identical probe + re-rank against the frames
    // the index was built from
    val cents = IvfIndex.centroids(spark, dir)
    val assigned = VectorOps.argminPacked(emb, cents, carryQv = true)
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("cdist",
        graft.functions.VectorMath.sqDistLong($"qv", $"cq"))
      .withColumn("crank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"vec_id")
          .orderBy($"cdist", $"cid")))
      .filter($"crank" <= 2)
      .select($"vec_id".as("query_id"), $"qv".as("probe_qv"), $"cid")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"dist", $"neighbor")
    val cellSize = assigned.groupBy($"cid").agg(count(lit(1)).as("cell_size"))
    val expected = assigned.join(broadcast(probed), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor"), $"cid",
        graft.functions.VectorMath.sqDistLong($"qv", $"probe_qv").as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .join(broadcast(cellSize), Seq("cid"))
      .select($"query_id", $"rank", $"neighbor", $"dist", $"cell_size")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(served.as[(Long, Long, Long, Long, Long)].collect().toSet
      === expected)
    // scale evidence: the serve scan reads only the probed cells' files
    val nProbedCells = probed.select($"cid").distinct().count()
    val allFiles = spark.read.parquet(s"$dir/postings").inputFiles.length
    served.collect()
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
    val scanned = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("postings")))
      .map(_.metrics("numFiles").value).max
    assert(nProbedCells < 16 || allFiles >= 16,
      "fixture should not probe every cell")
    if (nProbedCells < cents.count())
      assert(scanned < allFiles,
        s"serve read $scanned of $allFiles posting files — no pruning")
  }

  test("splitCells retrains ONLY the flagged cell and halves its occupancy") {
    import spark.implicits._
    // 16 well-separated seeds; 200 extra vectors crowd seed 3's cell
    // (two sub-clusters so the 2-way Lloyd has real structure), a few
    // land elsewhere — exactly one cell crosses 2x the fair share
    def vec(a: Long, b: Long, c: Long, d: Long) = Seq(a, b, c, d)
    val seeds = (0L until 16L).map(i => (i, vec(i * 10000, 0, 0, 0)))
    val crowd = (100L until 300L).map { i =>
      val sub = if (i % 2 == 0) 400L else -400L
      (i, vec(30000 + (i % 7), sub + (i % 5), 0, 0))
    }
    val fringe = (300L until 320L).map(i => (i, vec((i % 16) * 10000, 3, 0, 0)))
    val emb = (seeds ++ crowd ++ fringe).toDF("vec_id", "qv")
    val dir = tmp("split")
    IvfIndex.build(emb, dir)
    val before = IvfIndex.splitReport(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    val flagged = before.filter(_._5 == 1L)
    assert(flagged.map(_._1) == Seq(3L), s"exactly cell 3 must flag: $before")
    val total = before.map(_._4).sum

    val after = IvfIndex.splitCells(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // mass conserved, old cell gone, two fresh ids present
    assert(after.map(_._4).sum == total)
    assert(!after.map(_._1).contains(3L))
    val fresh = after.map(_._1).filter(_ >= 16L)
    assert(fresh.size == 2, s"two fresh cell ids expected: $after")
    // the hot mass actually split (no half holds the whole old cell)
    val hotBefore = flagged.head._4
    after.filter(r => fresh.contains(r._1)).foreach { r =>
      assert(r._4 < hotBefore, s"split half still holds the cell: $r")
    }
    // postings layout: old directory removed, fresh ones written
    val cells = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("cid=")).map(_.getName).toSet
    assert(!cells.contains("cid=3") &&
      fresh.forall(c => cells.contains(s"cid=$c")))
    // every re-homed vector sits with its NEARER new centroid
    val cents = IvfIndex.centroids(spark, dir)
      .select($"cid".cast("long"), $"cq").as[(Long, Seq[Long])]
      .collect().toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    IvfIndex.postings(spark, dir)
      .filter($"cid".cast("long").isin(fresh: _*))
      .select($"vec_id", $"qv", $"cid".cast("long").as("cid"))
      .as[(Long, Seq[Long], Long)].collect().foreach { case (id, qv, cid) =>
        val best = fresh.minBy(c => (d2(qv, cents(c)), c))
        assert(cid == best, s"vector $id homed to $cid, nearest is $best")
      }
    // and the index still serves: a crowd vector's top hit is its twin
    val served = IvfIndex.serve(spark, dir,
      emb.filter($"vec_id" === 200L), probes = 2, k = 3)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(served.nonEmpty && served.head._4 >= 0L)
  }

  test("labeled PQ serve matches a driver ADC reference and prunes both levels") {
    import spark.implicits._
    val emb = VectorOps.quantizedLabeled(spark, sfDir)
    val dir = tmp("pqlab")
    IvfIndex.buildPqLabeled(emb, dir)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val served = IvfIndex.servePqLabeled(spark, dir, queries)
    // driver reference: reconstruct every vector from codebook codes
    // (subvector-nearest of the 16 seeds, ties to the lowest code),
    // route queries to their 2 nearest converged centroids, rank probed
    // same-label candidates by exact reconstructed distance
    val vecs = emb.select($"vec_id", $"qv", $"label")
      .as[(Long, Seq[Long], Long)].collect()
    val byId = vecs.map(v => v._1 -> v._2).toMap
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // the stored TRAINED codebook (training itself is pinned by the
    // unlabeled spec + the q165 oracle); codes/ADC live in RESIDUAL
    // space — vector minus its cell's centroid
    val cbRows = spark.read.parquet(s"$dir/pqcodebook_v1")
      .select($"m".cast("int"), $"c".cast("int"), $"cvec")
      .as[(Int, Int, Seq[Long])].collect()
    val cbm = cbRows.map { case (m, c, v) => (m, c) -> v }.toMap
    val nCodes = cbRows.map(_._2).max + 1
    val cents = IvfIndex.centroids(spark, dir)
      .select($"cid".cast("long"), $"cq").as[(Long, Seq[Long])]
      .collect().sortBy(_._1)
    val centMap = cents.toMap
    def assign(qv: Seq[Long]): Long =
      cents.minBy { case (c, cq) => (d2(qv, cq), c) }._1
    def residOf(qv: Seq[Long], cell: Long): Seq[Long] =
      qv.zip(centMap(cell)).map { case (x, c) => x - c }
    def reconResid(rv: Seq[Long]): Seq[Long] =
      (0 until 8).flatMap { m =>
        val sv = rv.slice(m * 8, m * 8 + 8)
        cbm((m, (0 until nCodes).minBy(c => (d2(sv, cbm((m, c))), c))))
      }
    val assigned = vecs.map { case (id, qv, lab) => (id, assign(qv), lab) }
    val expected = queries.as[(Long, Seq[Long], Long)].collect()
      .flatMap { case (qid, qv, qlab) =>
        val probes = cents.sortBy { case (c, cq) => (d2(qv, cq), c) }
          .take(2).map(_._1).toSet
        assigned
          .filter { case (id, c, lab) =>
            id != qid && lab == qlab && probes.contains(c) }
          .map { case (id, c, _) =>
            (id, d2(reconResid(residOf(byId(id), c)), residOf(qv, c))) }
          .sortBy { case (id, adc) => (adc, id) }.take(5)
          .zipWithIndex
          .map { case ((id, adc), r) =>
            (qid, qlab, id, adc, (r + 1).toLong) }
      }.toSet
    assert(served.as[(Long, Long, Long, Long, Long)].collect().toSet
      === expected)
    // scale evidence: only probed (cid, label) leaves are opened
    served.collect()
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
    val allLeaves = spark.read.parquet(s"$dir/postings").inputFiles.length
    val scanned = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("postings")))
      .map(_.metrics("numFiles").value).max
    val nProbedPairs = queries.as[(Long, Seq[Long], Long)].collect()
      .flatMap { case (_, qv, lab) =>
        cents.sortBy { case (c, cq) => (d2(qv, cq), c) }
          .take(2).map(c => (c._1, lab)) }.toSet.size
    if (nProbedPairs < allLeaves)
      assert(scanned < allLeaves,
        s"labeled PQ serve read $scanned of $allLeaves leaves — no pruning")
  }

  test("labeled serve pre-filters exactly and prunes BOTH partition levels") {
    import spark.implicits._
    val emb = VectorOps.quantizedLabeled(spark, sfDir)
    val dir = tmp("lab")
    IvfIndex.buildLabeled(emb, dir)
    // two-level layout: cid directories each holding label directories
    val cidDirs = new java.io.File(s"$dir/postings").listFiles()
      .filter(_.getName.startsWith("cid="))
    assert(cidDirs.nonEmpty && cidDirs.forall(c =>
      c.listFiles().exists(_.getName.startsWith("label="))),
      "postings must be partitioned cid then label")
    val queries = emb.filter($"vec_id" % 100 === 0)
    val served = IvfIndex.serveLabeled(spark, dir, queries)
    // pre-filter reference: same-label top-5 inside the 2 probed cells,
    // computed against an in-memory labeled argmin assignment
    val cents = IvfIndex.centroids(spark, dir)
    val assigned = VectorOps.argminPacked(emb, cents,
      carryQv = true, carry = Seq("label"))
    val probed = queries.crossJoin(broadcast(cents))
      .withColumn("cdist",
        graft.functions.VectorMath.sqDistLong($"qv", $"cq"))
      .withColumn("crank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"vec_id")
          .orderBy($"cdist", $"cid")))
      .filter($"crank" <= 2)
      .select($"vec_id".as("query_id"), $"qv".as("probe_qv"),
        $"label", $"cid")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"dist", $"neighbor")
    val expected = assigned.join(broadcast(probed), Seq("cid", "label"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"label", $"vec_id".as("neighbor"),
        graft.functions.VectorMath.sqDistLong($"qv", $"probe_qv").as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= 5)
      .select($"query_id", $"label", $"neighbor", $"dist", $"rank")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val got = served.as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got === expected)
    // pre-filter semantics: every neighbor carries its query's label
    val qLabel = queries.select($"vec_id", $"label")
      .as[(Long, Long)].collect().toMap
    got.foreach { case (q, lab, _, _, _) => assert(lab === qLabel(q)) }
    // scale evidence: the scan opens only probed (cid, label) leaves
    served.collect()
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
    val allLeaves = spark.read.parquet(s"$dir/postings").inputFiles.length
    val scanned = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("postings")))
      .map(_.metrics("numFiles").value).max
    val nProbedPairs = probed.select($"cid", $"label").distinct().count()
    if (nProbedPairs < allLeaves)
      assert(scanned < allLeaves,
        s"labeled serve read $scanned of $allLeaves leaves — no pruning")
  }

  test("tombstones mask serving immediately; compact applies them physically") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = tmp("del")
    IvfIndex.build(emb.filter($"vec_id" % 5 =!= 0), dir)
    IvfIndex.addBatch(spark, dir, emb.filter($"vec_id" % 5 === 0))
    val deleted = emb.filter($"vec_id" % 7 === 0).select($"vec_id")
    val nDeleted = deleted.count()
    IvfIndex.delete(spark, dir, deleted)
    val queries = emb.filter($"vec_id" % 100 === 0 && $"vec_id" % 7 =!= 0)
    // BEFORE compaction: the mask alone must already hide every
    // tombstoned vector from the serve path
    val preCompact = IvfIndex.serve(spark, dir, queries)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(preCompact.nonEmpty &&
      !preCompact.exists { case (_, _, n, _, _) => n % 7 == 0 })
    val before = IvfIndex.postings(spark, dir).count()
    val report = IvfIndex.compact(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    // per-cell accounting reconciles with the delete batch exactly
    assert(report.map(_._3).sum === nDeleted)
    report.foreach { case (cid, nb, nr, ng, na, c) =>
      assert(na === nb - nr, s"cell $cid mass")
      assert(c === (if (nr > 0 || ng > 1) 1L else 0L), s"cell $cid flag")
    }
    // physical state: rows gone, generations folded, tombstone log empty
    val post = IvfIndex.postings(spark, dir)
    assert(post.count() === before - nDeleted)
    assert(post.filter($"gen" =!= 0L).count() === 0L)
    assert(post.filter($"vec_id" % 7 === 0).count() === 0L)
    assert(!new java.io.File(s"$dir/tombstones").exists)
    // and serving is oblivious to WHEN compaction ran
    val postCompact = IvfIndex.serve(spark, dir, queries)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(postCompact === preCompact)
  }

  test("compact rewrites ONLY the cells the tombstones touch") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = tmp("cmp")
    IvfIndex.build(emb, dir)
    // pick one cell and tombstone three of its vectors: with a single
    // generation everywhere, that cell alone is affected
    val victim = IvfIndex.postings(spark, dir)
      .groupBy($"cid").agg(count(lit(1)).as("n"))
      .orderBy(desc("n")).limit(1).select($"cid".cast("long"))
      .as[Long].head()
    val ids = IvfIndex.postings(spark, dir)
      .filter($"cid" === victim).select($"vec_id")
      .orderBy($"vec_id").limit(3)
    IvfIndex.delete(spark, dir, ids)
    def snapshot(): Map[String, Seq[(String, Long, Long)]] =
      new java.io.File(s"$dir/postings").listFiles()
        .filter(_.getName.startsWith("cid=")).map(d =>
          d.getName -> d.listFiles().map(f =>
            (f.getName, f.length(), f.lastModified())).toSeq.sortBy(_._1))
        .toMap
    val pre = snapshot()
    val report = IvfIndex.compact(spark, dir)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(report.filter(_._6 == 1L).map(_._1) === Seq(victim))
    val post = snapshot()
    // untouched cells: byte-identical files (name, size, mtime)
    pre.keys.filter(_ != s"cid=$victim").foreach { c =>
      assert(post(c) === pre(c), s"$c was rewritten without need")
    }
    // the victim cell: rewritten, three rows lighter
    assert(post(s"cid=$victim") !== pre(s"cid=$victim"))
    assert(IvfIndex.postings(spark, dir).filter($"cid" === victim).count()
      === report.find(_._1 == victim).get._5)
  }

  test("incremental ingest appends, assigns like fresh argmin, flags hot cells") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val dir = tmp("inc")
    IvfIndex.build(base, dir)
    val report = IvfIndex.addBatch(spark, dir, batch)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // counts reconcile: base rows at gen 0, batch rows at gen 1
    assert(report.map(_._2).sum === base.count(), "n_base total")
    assert(report.map(_._3).sum === batch.count(), "n_added total")
    report.foreach { case (_, nb, na, nt, _) => assert(nb + na === nt) }
    // the appended assignments equal a fresh argmin vs stored centroids
    val cents = IvfIndex.centroids(spark, dir)
    val expectedAssign = VectorOps.argminPacked(batch, cents)
      .select($"vec_id", $"cid").as[(Long, Long)].collect().toMap
    val storedAssign = IvfIndex.postings(spark, dir)
      .filter($"gen" === 1L).select($"vec_id", $"cid".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(storedAssign === expectedAssign)
    // the split rule is exactly n_total * 8 > corpus total
    val total = report.map(_._4).sum
    report.foreach { case (cid, _, _, nt, flag) =>
      assert(flag === (if (nt * 8 > total) 1L else 0L), s"cell $cid flag")
    }
    // a second batch keeps accumulating generations, not overwriting
    val report2 = IvfIndex.addBatch(spark, dir, batch, gen = 2L)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(report2.map(_._3).sum === 2 * batch.count(),
      "second ingest appends a second generation")
  }

  test("ingest AFTER splitCells assigns against the post-split cells correctly") {
    import spark.implicits._
    // same shape as the split fixture: cell 3 crowds and splits, minting
    // cell ids 16 and 17 — the case where a fixed argmin packing radix
    // of 16 silently decoded cid 17 as cid 1
    def vec(a: Long, b: Long, c: Long, d: Long) = Seq(a, b, c, d)
    val seeds = (0L until 16L).map(i => (i, vec(i * 10000, 0, 0, 0)))
    val crowd = (100L until 300L).map { i =>
      val sub = if (i % 2 == 0) 400L else -400L
      (i, vec(30000 + (i % 7), sub + (i % 5), 0, 0))
    }
    val emb = (seeds ++ crowd).toDF("vec_id", "qv")
    val dir = tmp("splitingest")
    IvfIndex.build(emb, dir)
    IvfIndex.splitCells(spark, dir)
    val cents = IvfIndex.centroids(spark, dir)
      .select($"cid".cast("long"), $"cq").as[(Long, Seq[Long])]
      .collect().toMap
    assert(cents.keySet.exists(_ >= 16L), "fixture must mint cids past 16")
    // ingest a batch that lands in BOTH split halves and in low cells
    val batch = ((500L until 520L).map { i =>
      val sub = if (i % 2 == 0) 400L else -400L
      (i, vec(30000, sub, 0, 0))
    } ++ (520L until 530L).map(i => (i, vec((i % 4) * 10000, 1, 0, 0))))
      .toDF("vec_id", "qv")
    IvfIndex.addBatch(spark, dir, batch, gen = 1L)
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val stored = IvfIndex.postings(spark, dir).filter($"gen" === 1L)
      .select($"vec_id", $"qv", $"cid".cast("long").as("cid"))
      .as[(Long, Seq[Long], Long)].collect()
    assert(stored.length === 30)
    stored.foreach { case (id, qv, cid) =>
      val best = cents.keys.minBy(c => (d2(qv, cents(c)), c))
      assert(cid === best,
        s"vector $id homed to cell $cid, nearest centroid is $best")
    }
    assert(stored.exists(_._3 >= 16L),
      "fixture batch must actually exercise a post-split cell id")
  }

  test("recall@k of the SPLIT-mutated store is integer-exact against a driver replay") {
    import spark.implicits._
    // the split fixture: cell 3 crowds, splits into two fresh cells
    def vec(a: Long, b: Long, c: Long, d: Long) = Seq(a, b, c, d)
    val seeds = (0L until 16L).map(i => (i, vec(i * 10000, 0, 0, 0)))
    val crowd = (100L until 300L).map { i =>
      val sub = if (i % 2 == 0) 400L else -400L
      (i, vec(30000 + (i % 7), sub + (i % 5), 0, 0))
    }
    val emb = (seeds ++ crowd).toDF("vec_id", "qv")
    val dir = tmp("splitrecall")
    IvfIndex.build(emb, dir)
    IvfIndex.splitCells(spark, dir)
    val queryIds = Seq(200L, 201L, 5L, 110L)
    val queries = emb.filter($"vec_id".isin(queryIds: _*))
    val served = IvfIndex.serve(spark, dir, queries, probes = 2, k = 3)
      .select($"query_id", $"rank", $"neighbor")
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // pure driver replay of the routed serve against the mutated store
    val cents = IvfIndex.centroids(spark, dir)
      .select($"cid".cast("long"), $"cq").as[(Long, Seq[Long])]
      .collect().toMap
    val post = IvfIndex.postings(spark, dir)
      .select($"vec_id", $"qv", $"cid".cast("long").as("cid"))
      .as[(Long, Seq[Long], Long)].collect()
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val all = (seeds ++ crowd).toMap
    val expected = queryIds.map { qid =>
      val qv = all(qid)
      val probed = cents.keys.toSeq
        .sortBy(c => (d2(qv, cents(c)), c)).take(2).toSet
      qid -> post.filter(p => probed.contains(p._3) && p._1 != qid)
        .sortBy(p => (d2(p._2, qv), p._1)).take(3).map(_._1).toSeq
    }.toMap
    assert(served == expected,
      "post-split serve must equal the driver replay of the routed serve")
    // integer-exact recall@3 vs exact brute force over the full fixture:
    // the routed store must recall every crowd query's true neighbors
    // (they live in its own split cell) — no tolerance, exact counts
    val recall = queryIds.map { qid =>
      val qv = all(qid)
      val exact = all.toSeq.filter(_._1 != qid)
        .sortBy(p => (d2(p._2, qv), p._1)).take(3).map(_._1).toSet
      qid -> exact.intersect(served(qid).toSet).size
    }.toMap
    assert(recall(200L) == 3 && recall(201L) == 3,
      s"crowd queries must fully recall within their split cell: $recall")
    assert(recall.values.sum >= 10, s"overall recall collapsed: $recall")
  }

  test("PQ store: 8-bytes-per-vector postings, driver-exact codes, pruned ADC serve") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val qvDir = tmp("pq_a") + "/qv"
    val pqDir = tmp("pq_b") + "/pq"
    IvfIndex.build(emb, qvDir)
    IvfIndex.buildPq(emb, pqDir)
    // the compressed postings carry ONE long of codes — no vector column
    val post = IvfIndex.postings(spark, pqDir)
    assert(post.columns.toSet === Set("vec_id", "code", "cid", "gen"),
      s"pq postings must not store vectors: ${post.columns.mkString(",")}")
    // and the bytes on disk reflect it: same rows, far smaller files
    def postingBytes(d: String): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) f.listFiles().map(walk).sum
        else if (f.getName.endsWith(".parquet")) f.length() else 0L
      walk(new java.io.File(s"$d/postings"))
    }
    val (qvB, pqB) = (postingBytes(qvDir), postingBytes(pqDir))
    assert(post.count() === emb.count())
    assert(pqB * 4 < qvB,
      s"pq store should be > 4x smaller on disk: qv=$qvB pq=$pqB")
    // the stored codebook equals a driver replication of the trainer:
    // per-subspace k-means (PqTrainIters rounds, floor-mean updates,
    // memberless codes keep their vector) on RESIDUALS — vector minus
    // its assigned cell's centroid. The uncompressed store built on the
    // same corpus supplies the assignment (identical lloydTrain run).
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val cellOf = IvfIndex.postings(spark, qvDir)
      .select($"vec_id", $"cid".cast("long")).as[(Long, Long)]
      .collect().toMap
    val centMap = IvfIndex.centroids(spark, pqDir)
      .select($"cid".cast("long"), $"cq").as[(Long, Seq[Long])]
      .collect().toMap
    val allVecs = emb.as[(Long, Seq[Long])].collect()
    val resid = allVecs.map { case (id, qv) =>
      id -> qv.zip(centMap(cellOf(id))).map { case (x, c) => x - c } }
    val sub = resid.flatMap { case (id, rv) =>
      (0 until 8).map(m => (id, m, rv.slice(m * 8, m * 8 + 8))) }
    var wantCb: Array[Array[Seq[Long]]] = Array.tabulate(8) { m =>
      sub.filter(r => r._1 < 16 && r._2 == m).sortBy(_._1).map(_._3)
    }
    for (_ <- 0 until 2) {
      val next = wantCb.map(_.clone())
      for (m <- 0 until 8) {
        sub.filter(_._2 == m)
          .map { case (_, _, sv) =>
            (wantCb(m).zipWithIndex
              .minBy { case (cv, ci) => (d2(sv, cv), ci) }._2, sv) }
          .groupBy(_._1).foreach { case (c, svs) =>
            next(m)(c) = (0 until 8).map(i =>
              math.floor(svs.map(_._2(i)).sum.toDouble / svs.size).toLong)
          }
      }
      wantCb = next
    }
    val cbRows = spark.read.parquet(s"$pqDir/pqcodebook_v1")
      .select($"m".cast("int"), $"c".cast("int"), $"cvec")
      .as[(Int, Int, Seq[Long])].collect()
    val cb = cbRows.map { case (m, c, v) => (m, c) -> v }.toMap
    val nCodes = cbRows.map(_._2).max + 1
    (0 until 8).foreach { m =>
      assert(wantCb(m).length === nCodes)
      (0 until nCodes).foreach(c =>
        assert(cb((m, c)) === wantCb(m)(c),
          s"trained codebook differs at subspace $m code $c"))
    }
    // stored codes equal a driver-side RESIDUAL encode (argmin per
    // subspace, ties to the lowest code) for every vector of one cell
    val someCell = post.select($"cid".cast("long")).distinct()
      .orderBy($"cid").as[Long].head()
    val stored = post.filter($"cid" === someCell)
      .select($"vec_id", $"code").as[(Long, Long)].collect().toMap
    val residMap = resid.toMap
    stored.foreach { case (id, code) =>
      val rv = residMap(id)
      val want = (0 until 8).map { m =>
        val sv = rv.slice(m * 8, m * 8 + 8)
        val c = (0 until nCodes).minBy(c => (d2(sv, cb((m, c))), c)).toLong
        c << (4 * m)
      }.sum
      assert(code === want, s"vector $id stored code $code, expected $want")
    }
    // the ADC serve reads only probed cell directories (same pruning
    // evidence as the qv serve)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val served = IvfIndex.servePq(spark, pqDir, queries)
    served.collect()
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
    val allFiles = spark.read.parquet(s"$pqDir/postings").inputFiles.length
    val scanned = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("postings")))
      .map(_.metrics("numFiles").value).max
    val nProbed = IvfIndex.postings(spark, pqDir)
      .select($"cid").distinct().count()
    if (scanned < allFiles || nProbed <= 2)
      assert(scanned <= allFiles)
    else fail(s"ADC serve read $scanned of $allFiles posting files — no pruning")
  }

  test("PQ lifecycle: ingest appends codes, compact folds them, serving is oblivious") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val dir = tmp("pqlife") + "/idx"
    IvfIndex.buildPq(base, dir)
    IvfIndex.addBatchPq(spark, dir, batch)
    // ingested codes equal the build-time encoding of the same vectors
    // (the codebook is immutable, so both paths must agree bit-exactly)
    val post = IvfIndex.postings(spark, dir)
    assert(post.count() === emb.count())
    val gen1Ids = post.filter($"gen" === 1L).select($"vec_id")
      .as[Long].collect().toSet
    assert(gen1Ids === batch.select($"vec_id").as[Long].collect().toSet)
    val deleted = emb.filter($"vec_id" % 7 === 0).select($"vec_id")
    IvfIndex.delete(spark, dir, deleted)
    val queries = emb.filter($"vec_id" % 100 === 0 && $"vec_id" % 7 =!= 0)
    val pre = IvfIndex.servePq(spark, dir, queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(pre.nonEmpty && !pre.exists { case (_, _, n, _) => n % 7 == 0 })
    IvfIndex.compact(spark, dir)
    val folded = IvfIndex.postings(spark, dir)
    assert(folded.filter($"gen" =!= 0L).count() === 0L,
      "compact must fold the PQ store's generations")
    assert(folded.count() === emb.count() - deleted.count())
    val postC = IvfIndex.servePq(spark, dir, queries)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(postC === pre, "ADC serve must not care when compaction ran")
    // replay after compaction stays a no-op for the compressed store too
    IvfIndex.addBatchPq(spark, dir, batch)
    assert(IvfIndex.postings(spark, dir).count()
      === emb.count() - deleted.count())
  }

  test("a racing commit from a stale epoch fails loudly instead of clobbering") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    // per store kind: build, then two mutations race from the same base
    // snapshot — the first (an ingest of generation 1) commits, and the
    // returned thunk is the second, still holding the stale base
    Seq[(String, String => (() => Unit), String => Long,
        String => ManifestState[_])](
      ("IvfIndex", { dir =>
        IvfIndex.build(base, dir)
        val stale = IvfIndex.readSnapshot(spark, dir)
        IvfIndex.addBatch(spark, dir, batch)
        () => IvfIndex.IndexManifest.commit(spark, dir,
          stale.copy(epoch = stale.epoch + 1))
      }, IvfIndex.postings(spark, _).count(), IvfIndex.readSnapshot(spark, _)),
      ("BinaryStore", { dir =>
        BinaryStore.build(base, dir)
        val stale = FlatManifest.read(spark, dir)
        BinaryStore.addBatch(spark, dir, batch, gen = 1L)
        () => FlatManifest.commit(spark, dir,
          stale.copy(epoch = stale.epoch + 1))
      }, BinaryStore.liveCodes(spark, _).count(), FlatManifest.read(spark, _))
    ).foreach { case (kind, race, live, latest) =>
      val dir = tmp("race") + "/idx"
      val staleCommit = race(dir)
      val afterWinner = live(dir)
      // ...the second must NOT silently replace the winner's manifest —
      // that would orphan the ingested generation while its files remain
      intercept[java.util.ConcurrentModificationException] { staleCommit() }
      assert(live(dir) === afterWinner,
        s"$kind: the winning commit must survive the stale committer")
      assert(latest(dir).committedIngest(1L),
        s"$kind: the ingested generation must still be committed")
    }
  }

  test("vacuum reclaims exactly the unreferenced directories, contents untouched") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val dir = tmp("vac")
    IvfIndex.build(base, dir)
    val before = IvfIndex.postings(spark, dir)
      .select($"vec_id", $"qv").as[(Long, Seq[Long])].collect().toMap
    // a crashed ingest attempt: gen files on disk, no manifest commit
    IvfIndex.ingestFiles(spark, dir, emb.filter($"vec_id" % 5 === 0), 9L)
    // a half-written centroid retrain
    IvfIndex.centroids(spark, dir).limit(2)
      .write.parquet(s"$dir/centroids_v77")
    val report = IvfIndex.vacuum(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(report("orphan_gen_dirs") > 0L,
      s"crashed ingest's generation dirs must be reclaimed: $report")
    assert(report("stale_centroid_versions") === 1L, report.toString)
    // the committed snapshot is untouched, and the orphans are gone
    // from DISK, not just masked
    val after = IvfIndex.postings(spark, dir)
      .select($"vec_id", $"qv").as[(Long, Seq[Long])].collect().toMap
    assert(after === before)
    assert(!new java.io.File(s"$dir/centroids_v77").exists)
    val rawGens = spark.read.parquet(s"$dir/postings")
      .select($"gen".cast("long")).distinct().as[Long].collect().toSet
    assert(!rawGens.contains(9L),
      "orphaned generation files survived the vacuum")
    // a second vacuum is a no-op
    val again = IvfIndex.vacuum(spark, dir).as[(String, Long)].collect().toMap
    assert(again.values.forall(_ == 0L), again.toString)
  }

  test("commit protocol: a crash between data write and manifest commit is invisible, and replay is exactly-once") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    val dir = tmp("crash")
    IvfIndex.build(base, dir)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val servedBefore = IvfIndex.serve(spark, dir, queries)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // simulated crash: the ingest's data files land, the manifest never
    // commits — readers must still see exactly the pre-ingest snapshot
    IvfIndex.ingestFiles(spark, dir, batch, gen = 1L)
    assert(IvfIndex.postings(spark, dir).count() === base.count(),
      "uncommitted generation files leaked into the read snapshot")
    val servedCrashed = IvfIndex.serve(spark, dir, queries)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(servedCrashed === servedBefore,
      "serve changed while the ingest was uncommitted")
    // recovery replays the SAME batch: its publish rewrites the tmp dir
    // and replaces the orphaned attempt's renamed cid=/gen= directories,
    // so contents come out exactly-once
    IvfIndex.addBatch(spark, dir, batch, gen = 1L)
    assert(IvfIndex.postings(spark, dir).count()
      === base.count() + batch.count())
    // a replay AFTER the commit is a metadata no-op (at-least-once
    // foreachBatch recovery cannot double-count)...
    IvfIndex.addBatch(spark, dir, batch, gen = 1L)
    assert(IvfIndex.postings(spark, dir).count()
      === base.count() + batch.count())
    // ...and stays a no-op even after compaction folds the generation
    IvfIndex.compact(spark, dir)
    IvfIndex.addBatch(spark, dir, batch, gen = 1L)
    assert(IvfIndex.postings(spark, dir).count()
      === base.count() + batch.count(),
      "replay after compaction re-ingested a folded generation")
    // a half-written centroid retrain is equally invisible: only the
    // manifest names the live version, so a stray version directory is
    // never read
    IvfIndex.centroids(spark, dir).limit(3)
      .write.parquet(s"$dir/centroids_v99")
    assert(IvfIndex.centroids(spark, dir).count() > 3,
      "an uncommitted centroid version leaked into reads")
  }

  test("PQ refine re-rank equals a shortlist brute force and never loses recall to ADC") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = tmp("refine")
    IvfIndex.buildPq(emb, dir)
    val queries = emb.filter($"vec_id" % 10 === 0)
    val vecs = emb.as[(Long, Seq[Long])].collect().toMap
    def sq(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    // the refine stage IS "exact top-5 of the ADC shortlist": replay it
    // on the driver from the same shortlist the store serves
    val shortlist = IvfIndex.servePq(spark, dir, queries, probes = 2, k = 25)
      .select($"query_id", $"neighbor").as[(Long, Long)].collect()
    val refined = IvfIndex.servePqRefine(spark, dir, queries, emb)
      .as[(Long, Long, Long, Long)].collect()
    val expected = shortlist.groupBy(_._1).toSeq.flatMap { case (q, ns) =>
      ns.map { case (_, n) => (q, n, sq(vecs(q), vecs(n))) }
        .sortBy { case (_, n, d) => (d, n) }.take(5).zipWithIndex
        .map { case ((qq, n, d), i) => (qq, i + 1L, n, d) }
    }.toSet
    assert(refined.toSet === expected)
    // vs the exact top-5: per query, refined hits >= ADC hits — a
    // DETERMINISTIC consequence of adc-top5 being a shortlist prefix
    // and the re-rank using the true distance order (scaladoc claim)
    val adc5 = IvfIndex.servePq(spark, dir, queries)
      .select($"query_id", $"neighbor").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ref5 = refined.groupBy(_._1).view
      .mapValues(_.map(_._3).toSet).toMap
    var refTot = 0
    var adcTot = 0
    queries.select($"vec_id").as[Long].collect().foreach { q =>
      val exact = vecs.keysIterator.filter(_ != q)
        .map(n => (sq(vecs(q), vecs(n)), n)).toSeq.sorted.take(5)
        .map(_._2).toSet
      val nr = (ref5.getOrElse(q, Set.empty[Long]) & exact).size
      val na = (adc5.getOrElse(q, Set.empty[Long]) & exact).size
      assert(nr >= na, s"refine lost recall at query $q: $nr < $na")
      refTot += nr; adcTot += na
    }
    assert(refTot >= adcTot)
  }

  test("an empty delete batch is a full no-op: no file-less tombstone set, no epoch") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = tmp("emptydel") + "/idx"
    IvfIndex.build(emb, dir)
    val before = IvfIndex.readSnapshot(spark, dir).epoch
    // first-ever delete, empty: committing its set id would leave a
    // del= directory holding only _SUCCESS and break every later
    // tombstone read on parquet schema inference
    IvfIndex.delete(spark, dir, emb.filter($"vec_id" < 0).select($"vec_id"))
    assert(IvfIndex.readSnapshot(spark, dir).epoch === before,
      "an empty delete must not commit an epoch")
    assert(!new java.io.File(s"$dir/tombstones").exists,
      "an empty delete must not create the tombstone dir")
    // the store still serves, and a real delete afterwards still works
    val queries = emb.filter($"vec_id" % 100 === 0)
    assert(IvfIndex.serve(spark, dir, queries).count() > 0)
    IvfIndex.delete(spark, dir, emb.filter($"vec_id" % 7 === 0)
      .select($"vec_id"))
    // empty again, now WITH committed tombstones: still a no-op
    val afterReal = IvfIndex.readSnapshot(spark, dir)
    IvfIndex.delete(spark, dir, emb.filter($"vec_id" < 0).select($"vec_id"))
    assert(IvfIndex.readSnapshot(spark, dir).epoch === afterReal.epoch)
    assert(IvfIndex.postings(spark, dir).count() > 0)
    assert(IvfIndex.serve(spark, dir, queries)
      .filter($"neighbor" % 7 === 0).count() === 0,
      "the real delete must still mask")
  }

  test("build refuses to wipe a directory holding non-index content") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = tmp("wipeguard")
    val stray = new java.io.File(dir, "payroll.csv")
    assert(stray.createNewFile())
    val e = intercept[IllegalArgumentException] {
      IvfIndex.build(emb, dir)
    }
    assert(e.getMessage.contains("non-index content"))
    assert(stray.exists, "the guard must fire BEFORE any deletion")
    // an existing INDEX directory is fair game: rebuild over it
    val idxDir = tmp("wipeok") + "/idx"
    IvfIndex.build(emb.filter($"vec_id" % 2 === 0), idxDir)
    IvfIndex.build(emb, idxDir)
    assert(IvfIndex.postings(spark, idxDir).count() === emb.count())
  }

  test("vacuum leaves an in-flight temp manifest (future epoch), reclaims stale ones") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    Seq[(String, String => Unit, String => org.apache.spark.sql.DataFrame)](
      ("IvfIndex", IvfIndex.build(emb, _), IvfIndex.vacuum(spark, _)),
      ("BinaryStore", BinaryStore.build(emb, _), BinaryStore.vacuum(spark, _))
    ).foreach { case (kind, build, vacuum) =>
      val dir = tmp("tmpman") + "/idx"
      build(dir) // epoch 1
      // a stale temp (epoch <= committed head: its commit would lose the
      // optimistic check anyway) and an in-flight temp for the NEXT epoch
      // (a concurrent mutation between create and rename)
      val stale = new java.io.File(dir, ".manifest-tmp-1")
      val inflight = new java.io.File(dir, ".manifest-tmp-2")
      assert(stale.createNewFile() && inflight.createNewFile())
      val report = vacuum(dir).as[(String, Long)].collect().toMap
      assert(report("tmp_manifests") === 1L, s"$kind: $report")
      assert(!stale.exists, s"$kind: the stale temp must be reclaimed")
      assert(inflight.exists,
        s"$kind: an in-flight temp manifest must never be yanked mid-commit")
    }
  }

  test("ingest replay-dedup state stays O(1) for a sequential writer, bounded under disorder") {
    import spark.implicits._
    val emb = VectorOps.quantized(spark, sfDir)
    val dir = tmp("hwm") + "/idx"
    IvfIndex.build(emb.filter($"vec_id" % 5 =!= 0), dir)
    val fifth = emb.filter($"vec_id" % 5 === 0)
      .select($"vec_id", $"qv").as[(Long, Seq[Long])].collect()
    def oneVec(i: Int) = Seq(fifth(i)).toDF("vec_id", "qv")
    // 30 sequential one-vector ingest batches, compaction every 10 —
    // the streaming sink's shape (gen = batchId + 1, monotone)
    (0 until 30).foreach { i =>
      IvfIndex.addBatch(spark, dir, oneVec(i), gen = i + 1L)
      if ((i + 1) % 10 == 0) IvfIndex.compact(spark, dir)
    }
    val snap = IvfIndex.readSnapshot(spark, dir)
    assert(snap.ingestLow === 30L)
    assert(snap.ingested.isEmpty,
      "a sequential writer must leave the out-of-order set empty")
    // the manifest FILE carries no per-batch entries: O(live gens),
    // not O(stream length) — the growth this scheme exists to kill
    val manifest = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("manifest-")).maxBy(_.getName)
    val text = {
      val src = scala.io.Source.fromFile(manifest)
      try src.mkString finally src.close()
    }
    assert(text.linesIterator.contains("ingest_low=30"), text)
    assert(text.linesIterator.contains("ingested="), text)
    // replays anywhere at or below the mark are no-ops, even across
    // the compactions that folded those generations away
    val before = IvfIndex.postings(spark, dir).count()
    IvfIndex.addBatch(spark, dir, oneVec(6), gen = 7L)
    IvfIndex.addBatch(spark, dir, oneVec(29), gen = 30L)
    assert(IvfIndex.postings(spark, dir).count() === before)
    // out-of-order commits park in the bounded set, then the mark
    // absorbs them when the gap fills
    IvfIndex.addBatch(spark, dir, oneVec(34), gen = 35L)
    val parked = IvfIndex.readSnapshot(spark, dir)
    assert(parked.ingestLow === 30L && parked.ingested === Set(35L))
    (30 to 33).foreach(i =>
      IvfIndex.addBatch(spark, dir, oneVec(i), gen = i + 1L))
    val drained = IvfIndex.readSnapshot(spark, dir)
    assert(drained.ingestLow === 35L && drained.ingested.isEmpty)
    // contents: base + 35 distinct ingested vectors, each stored once
    assert(IvfIndex.postings(spark, dir).count() === before + 5)
  }

  test("1000 logical ingest commits: the dedup state stays O(disorder), never O(stream)") {
    // Pure-logic drive of the manifest's ingest-dedup state machine —
    // Snapshot.withIngested/committedIngest are exactly what every
    // commit serializes (`ingest_low=` + the sorted `ingested=` set),
    // so bounding the set IS bounding the manifest bytes. The Spark
    // ingest test above proves the same mechanism end-to-end over 30
    // real batches; this one proves the CLAIMED scale: 1000 commits,
    // sequential and adversarially reordered.
    val base = IvfIndex.Snapshot(1L, 1L, Map.empty, Set.empty, -1L)
    // sequential writer (the streaming sink: gen = batchId + 1): the
    // out-of-order set stays PERMANENTLY EMPTY — O(1) manifest growth
    var seq = base
    (1L to 1000L).foreach { g =>
      assert(!seq.committedIngest(g), s"gen $g must read uncommitted first")
      seq = seq.withIngested(g)
      assert(seq.ingested.isEmpty,
        s"gen $g: a sequential writer must never park a generation")
      assert(seq.ingestLow === g)
    }
    assert((1L to 1000L).forall(seq.committedIngest),
      "every committed generation must replay as a no-op")
    assert(!seq.committedIngest(1001L))
    // bounded-disorder writer: a seeded permutation where each gen
    // lands within a W-slot window of its place (the at-least-once
    // redelivery reality) — the parked set peaks at ≤ W and drains
    val rnd = new scala.util.Random(12L)
    val W = 16
    val order = (1 to 1000).grouped(W)
      .flatMap(b => rnd.shuffle(b.toList)).toSeq
    assert(order.sorted == (1 to 1000).toSeq)
    var dis = base
    var maxParked = 0
    order.foreach { g =>
      dis = dis.withIngested(g.toLong)
      maxParked = math.max(maxParked, dis.ingested.size)
    }
    assert(dis.ingestLow === 1000L && dis.ingested.isEmpty)
    assert(maxParked <= W,
      s"parked set peaked at $maxParked > disorder window $W — the " +
        "state must track the REORDERING, not the stream length")
    assert(rnd.shuffle((1 to 1000).toList).take(100)
      .forall(g => dis.committedIngest(g.toLong)))
    // worst case on record: full reversal parks everything until gen 1
    // lands, then ONE absorption empties the set — the bound is the
    // disorder span by construction, which is what the doc claims
    var rev = base
    (1000L to 2L by -1L).foreach(g => rev = rev.withIngested(g))
    assert(rev.ingested.size === 999 && rev.ingestLow === 0L)
    rev = rev.withIngested(1L)
    assert(rev.ingestLow === 1000L && rev.ingested.isEmpty)
  }

  test("every ingest entry point refuses a store of another layout before writing") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val emb = VectorOps.quantized(spark, sfDir)
      .withColumn("label", col("vec_id") % 4)
    val base = emb.filter($"vec_id" % 5 =!= 0)
    val batch = emb.filter($"vec_id" % 5 === 0)
    def tree(dir: String): Set[String] = {
      val root = java.nio.file.Paths.get(dir, "postings")
      val walk = java.nio.file.Files.walk(root)
      try walk.iterator().asScala.map(p => root.relativize(p).toString).toSet
      finally walk.close()
    }
    val cases = Seq[(String, String => Unit,
        (org.apache.spark.sql.DataFrame, String) => Unit, String)](
      ("addBatch -> labeled", d => IvfIndex.buildLabeled(base, d),
        (b, d) => IvfIndex.addBatch(spark, d, b.select($"vec_id", $"qv")),
        "addBatchLabeled"),
      ("addBatch -> PQ", d => IvfIndex.buildPq(base.select($"vec_id", $"qv"), d),
        (b, d) => IvfIndex.addBatch(spark, d, b.select($"vec_id", $"qv")),
        "addBatchPq"),
      ("addBatchLabeled -> labeled PQ", d => IvfIndex.buildPqLabeled(base, d),
        (b, d) => IvfIndex.addBatchLabeled(spark, d, b),
        "addBatchPqLabeled"))
    cases.foreach { case (name, build, add, want) =>
      val dir = tmp("layout")
      build(dir)
      val (epoch, files) = (IvfIndex.readSnapshot(spark, dir).epoch, tree(dir))
      val e = intercept[IllegalArgumentException](add(batch, dir))
      assert(e.getMessage.contains(s"use $want"), s"$name: ${e.getMessage}")
      assert(IvfIndex.readSnapshot(spark, dir).epoch === epoch,
        s"$name: the refused ingest committed an epoch")
      assert(tree(dir) === files, s"$name: the refused ingest wrote postings")
    }
  }
}
