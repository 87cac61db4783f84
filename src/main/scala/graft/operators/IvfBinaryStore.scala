package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.FlatManifest.Snap

/** PERSISTED IVF×BINARY composed tier — the q207 serve under the
  * [[FlatManifest]] commit protocol: the standard billion-vector
  * layout where a learned coarse quantizer partitions the corpus into
  * cells, each cell's members are stored as 1-bit sign codes, and a
  * query touches ONLY its probed cells' code files before an exact
  * refine of the shortlist.
  *
  *   - `centroids/` (cid, cq): the learned router (the
  *     [[VectorOps.lloydTrain]] loop at build time). FIXED for the
  *     store's lifetime — ingests assign against it, so cell
  *     membership is a pure function of the vector and the build
  *     (re-clustering is a rebuild, the release-cadence pattern; the
  *     routed mutable-retrain path is [[IvfIndex.retrain]]).
  *   - `codes/gen=N/cid=C/` (vec_id, w0, w1): 16 logical bytes per
  *     vector, PARTITIONED BY CELL — a serve pushes its probed cid
  *     set as a partition filter and reads only those directories
  *     (numFiles spec-pinned), which is the whole point of the
  *     composition: the flat [[BinaryStore]] scans every code,
  *     this store scans ~(nprobe/k)·N.
  *   - `vectors/gen=N/bucket=…/` (vec_id, qv): full-precision rows
  *     for the refine fetch, id-bucketed exactly like
  *     [[BinaryStore]]'s (the shortlist's bucket set is
  *     driver-bounded and partition-prunes the fetch).
  *   - `tombstones/del=…/`, `manifest-…`: the shared flat-store
  *     lifecycle — exactly-once [[addBatch]], [[delete]] masking,
  *     [[compact]] folding, epoch time travel, GC.
  *
  * Serve shares q207's stage code verbatim ([[VectorOps.ivfBinRoute]]
  * / [[VectorOps.ivfBinaryReport]]), so store-serve equality is by
  * construction; the q208 gate entry hashes the report AFTER a
  * build→ingest→replayed-ingest→delete→serve→compact→serve lifecycle
  * against a DuckDB replay that re-trains the router relationally and
  * re-derives the live set per phase from one computation.
  *
  * Scale: a build is the Lloyd loop (per-round one broadcast-argmin
  * exchange) plus one assignment pass and two partitioned writes; an
  * ingest costs its batch (assignment against ≤k broadcast centroids
  * + writes); a serve reads probed cells' codes only, folds
  * candidates map-side to ≤ width rows per (query, cell), and fetches
  * full vectors for shortlist ids alone. Nothing driver-sized but the
  * k-row centroid table, the probed cid set, and the bucket list.
  */
object IvfBinaryStore {

  /** Refine-side fan-out: vectors partition into this many id buckets. */
  val Buckets = 64L

  private def centDir(dir: String) = s"$dir/centroids"
  private def codesDir(dir: String) = s"$dir/codes"
  private def vecsDir(dir: String) = s"$dir/vectors"
  private def tombDir(dir: String) = s"$dir/tombstones"

  // ---------- data plane ----------

  /** The stored router (cid, cq). k rows — read once per serve batch
    * and broadcast.
    */
  def centroids(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(centDir(dir))

  /** Write one generation's cell-partitioned codes + bucketed vectors
    * from ALREADY-ASSIGNED rows (vec_id, qv, cid). Dynamic partition
    * overwrite: a crashed attempt's partial files are replaced by the
    * re-run before its commit, never read.
    */
  private def writeGen(assigned: DataFrame, dir: String,
      gen: Long): Unit = {
    val s = assigned.sparkSession
    import s.implicits._
    FlatManifest.writeGenDir(
      assigned.select($"vec_id", $"cid",
        expr(VectorOps.SignW0Sql).as("w0"),
        expr(VectorOps.SignW1Sql).as("w1")),
      codesDir(dir), gen, Seq("cid"))
    FlatManifest.writeGenDir(
      assigned.select($"vec_id", $"qv",
          pmod($"vec_id", lit(Buckets)).as("bucket"))
        .repartition($"bucket"),
      vecsDir(dir), gen, Seq("bucket"))
  }

  private def emptyCodes(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("vec_id"), col("id").as("w0"),
      col("id").as("w1"), col("id").as("gen"), col("id").as("cid"))

  private def emptyVecs(s: SparkSession): DataFrame =
    s.range(0).select(col("id").as("vec_id"),
      array(col("id")).as("qv"), col("id").as("gen"),
      col("id").as("bucket"))

  private def codesOf(s: SparkSession, dir: String, snap: Snap): DataFrame =
    if (snap.gens.isEmpty) emptyCodes(s)
    else s.read.parquet(codesDir(dir))
      .filter(col("gen").isin(snap.gens: _*))

  private def vectorsOf(s: SparkSession, dir: String,
      snap: Snap): DataFrame =
    if (snap.gens.isEmpty) emptyVecs(s)
    else s.read.parquet(vecsDir(dir))
      .filter(col("gen").isin(snap.gens: _*))

  private def tombstonesOf(s: SparkSession, dir: String,
      snap: Snap): Option[DataFrame] =
    if (snap.tombs.isEmpty) None
    else Some(s.read.parquet(tombDir(dir))
      .filter(col("del").isin(snap.tombs: _*)).select(col("vec_id")))

  private def maskCodes(s: SparkSession, dir: String, snap: Snap,
      codes: DataFrame): DataFrame =
    tombstonesOf(s, dir, snap).fold(codes)(t =>
      codes.join(broadcast(t.select(col("vec_id")).distinct()),
        Seq("vec_id"), "left_anti"))

  /** The LIVE logical contents (vec_id, w0, w1, cid) of the committed
    * snapshot.
    */
  def liveCodes(s: SparkSession, dir: String): DataFrame = {
    val snap = FlatManifest.read(s, dir)
    maskCodes(s, dir, snap, codesOf(s, dir, snap)
      .select(col("vec_id"), col("w0"), col("w1"), col("cid")))
  }

  private def verifyData(s: SparkSession, dir: String)(snap: Snap): Unit = {
    val f = FlatManifest.fs(s, dir)
    def gone(what: String): Nothing = throw new IllegalStateException(
      s"store $dir epoch ${snap.epoch}: $what no longer exists — its " +
        "data was GC'd under a narrower retention window")
    snap.gens.foreach { g =>
      if (!f.exists(new org.apache.hadoop.fs.Path(codesDir(dir), s"gen=$g")))
        gone(s"codes generation $g")
      if (!f.exists(new org.apache.hadoop.fs.Path(vecsDir(dir), s"gen=$g")))
        gone(s"vectors generation $g")
    }
    snap.tombs.foreach { t =>
      if (!f.exists(new org.apache.hadoop.fs.Path(tombDir(dir), s"del=$t")))
        gone(s"tombstone set $t")
    }
  }

  // ---------- lifecycle ----------

  /** Train the router to convergence on `emb` (vec_id, qv), assign,
    * and commit as manifest epoch 1, generation 0. A build OWNS its
    * directory and invalidates any cached serving relations for it.
    */
  def build(emb: DataFrame, dir: String): Unit = {
    val s = emb.sparkSession
    import s.implicits._
    FlatManifest.prepareBuildDir(s, dir)(Set("centroids", "codes", "vectors"))
    val seeds = emb.filter($"vec_id" < 16)
      .select($"vec_id".as("cid"), $"qv".as("cq"))
    val (learned, _) = VectorOps.lloydTrain(emb, seeds,
      VectorOps.LloydMaxIters, VectorOps.LloydMinImprove)
    learned.select($"cid", $"cq").write.mode(SaveMode.Overwrite)
      .parquet(centDir(dir))
    writeGen(VectorOps.argminPacked(emb, learned, carryQv = true)
      .select($"vec_id", $"qv", $"cid"), dir, 0L)
    FlatManifest.commit(s, dir, Snap(epoch = 1L, gens = Seq(0L),
      tombs = Nil, ingested = Set.empty, ingestLow = 0L,
      nextInternal = -1L))
    invalidateCache(s, dir)
  }

  /** Incremental ingest: assign `newVecs` (vec_id, qv) against the
    * STORED centroids and commit as generation `gen` (> 0;
    * caller-named so a streaming sink can use its batch id).
    * Exactly-once under replay — the [[BinaryStore.addBatch]] contract
    * verbatim. Returns [[genReport]].
    */
  def addBatch(s: SparkSession, dir: String, newVecs: DataFrame,
      gen: Long): DataFrame = {
    require(gen > 0L,
      s"ingest generations are caller-named positives (got $gen); " +
        "internal generations are negative by construction")
    val snap = FlatManifest.read(s, dir)
    if (!snap.committedIngest(gen)) {
      val batch = newVecs.select(col("vec_id"), col("qv"))
        .localCheckpoint(true)
      if (batch.isEmpty)
        FlatManifest.commit(s, dir,
          snap.withIngested(gen).copy(epoch = snap.epoch + 1))
      else {
        val cents = centroids(s, dir)
        writeGen(VectorOps.argminPacked(batch, cents, carryQv = true)
          .select(col("vec_id"), col("qv"), col("cid")), dir, gen)
        FlatManifest.commit(s, dir, snap.withIngested(gen)
          .copy(epoch = snap.epoch + 1,
            gens = (snap.gens :+ gen).distinct))
      }
    }
    genReport(s, dir)
  }

  /** Tombstone deletes — O(batch) append, masked at serve, applied
    * physically by [[compact]].
    */
  def delete(s: SparkSession, dir: String, ids: DataFrame): Unit = {
    val batch = ids.select(col("vec_id")).localCheckpoint(true)
    if (batch.isEmpty) return
    val snap = FlatManifest.read(s, dir)
    val setId = snap.epoch + 1
    batch.withColumn("del", lit(setId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("del").parquet(tombDir(dir))
    FlatManifest.commit(s, dir, snap.copy(epoch = setId,
      tombs = snap.tombs :+ setId))
  }

  /** Fold live rows into one internal generation (cell layout
    * preserved — codes rewrite under their existing cid), retire
    * tombstones, GC. Centroids are untouched: compaction changes
    * bytes, never routing.
    */
  def compact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = FlatManifest.read(s, dir)
    val codes = codesOf(s, dir, snap)
    val tomb = tombstonesOf(s, dir, snap)
      .map(_.select($"vec_id").distinct().localCheckpoint(true))
    val Array(stat) = codes
      .agg(count(lit(1)).as("n_before"),
        coalesce(countDistinct($"gen"), lit(0L)).as("n_gens"))
      .collect()
    val nBefore = stat.getLong(0)
    val nRemoved = tomb.fold(0L)(t =>
      codes.join(broadcast(t), "vec_id").count())
    val doFold = nRemoved > 0 || snap.gens.length > 1
    if (doFold) {
      val newGen = snap.nextInternal
      // rewrite from the vectors relation joined to its stored cell —
      // assignment is NOT recomputed (the router is fixed, but
      // recomputing would still re-pack every code; the stored cid is
      // the cheaper identical source)
      val liveAssigned = {
        val v = tomb.fold(vectorsOf(s, dir, snap))(t =>
          vectorsOf(s, dir, snap)
            .join(broadcast(t), Seq("vec_id"), "left_anti"))
          .select($"vec_id", $"qv")
        v.join(codes.select($"vec_id", $"cid"), "vec_id")
          .select($"vec_id", $"qv", $"cid")
      }.localCheckpoint(true)
      val any = !liveAssigned.isEmpty
      if (any) writeGen(liveAssigned, dir, newGen)
      FlatManifest.commit(s, dir, snap.copy(epoch = snap.epoch + 1,
        gens = if (any) Seq(newGen) else Seq.empty,
        tombs = Nil, nextInternal = newGen - 1L))
    } else if (snap.tombs.nonEmpty) {
      FlatManifest.commit(s, dir,
        snap.copy(epoch = snap.epoch + 1, tombs = Nil))
    }
    gcSweep(s, dir)
    Seq((nBefore, nRemoved, stat.getLong(1), nBefore - nRemoved,
        if (doFold) 1L else 0L))
      .toDF("n_before", "n_removed", "n_gens_before", "n_after",
        "compacted")
  }

  /** Standalone GC sweep — reclaims whatever no RETAINED manifest
    * references.
    */
  def vacuum(s: SparkSession, dir: String): DataFrame =
    FlatManifest.report(s, gcSweep(s, dir))

  private def gcSweep(s: SparkSession, dir: String): Map[String, Long] =
    FlatManifest.gcSweep(s, dir, Seq("codes", "vectors"))

  /** Per-generation live occupancy plus the (-1, total) rollup —
    * [[addBatch]]'s return surface.
    */
  def genReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = FlatManifest.read(s, dir)
    val live = maskCodes(s, dir, snap, codesOf(s, dir, snap))
      .withColumn("lgen",
        when($"gen" <= 0, 0L).otherwise($"gen".cast("long")))
    val per = live.groupBy($"lgen".as("gen"))
      .agg(count(lit(1)).as("n_codes"))
    per.unionByName(per.agg(coalesce(sum($"n_codes"), lit(0L))
        .as("n_codes"))
      .select(lit(-1L).as("gen"), $"n_codes"))
      .orderBy($"gen")
  }

  // ---------- serving ----------

  /** Probed-cell codes for a routed query batch: the routed cid set is
    * driver-bounded (≤ k cells) and pushes down as a PARTITION filter
    * on the cell-partitioned codes — the scan reads only probed
    * directories (numFiles spec-pinned), which is the composed tier's
    * byte story on disk.
    */
  private[graft] def probedCodes(s: SparkSession, dir: String, snap: Snap,
      routed: DataFrame): DataFrame = {
    import s.implicits._
    val cids = routed.select($"cid").distinct().as[Long].collect().toSeq
    maskCodes(s, dir, snap, codesOf(s, dir, snap)
      .filter($"cid".isin(cids: _*))
      .select($"vec_id", $"w0", $"w1", $"cid"))
  }

  /** The q207 operating-point report served from the store — shared
    * verbatim with the in-memory tier, so the q208 gate hashes against
    * q207's own oracle family. Refine vectors are fetched
    * bucket-pruned (the [[BinaryStore]] discipline).
    */
  def serveReport(s: SparkSession, d: String, dir: String,
      queries: DataFrame, exactTag: String = "full"): DataFrame =
    serveReportSnap(s, d, dir, FlatManifest.read(s, dir), queries,
      exactTag)

  private def serveReportSnap(s: SparkSession, d: String, dir: String,
      snap: Snap, queries: DataFrame, exactTag: String): DataFrame = {
    import s.implicits._
    val cents = centroids(s, dir)
    val routed = VectorOps.ivfBinRoute(queries, cents)
      .localCheckpoint(true)
    VectorOps.ivfBinaryReport(s, d,
      probedCodes(s, dir, snap, routed), routed, queries,
      refineVecs = shortlist => {
        val buckets = shortlist
          .select(pmod($"neighbor", lit(Buckets)).as("bucket"))
          .distinct().as[Long].collect().toSeq
        vectorsOf(s, dir, snap).filter($"bucket".isin(buckets: _*))
          .select($"vec_id", $"qv")
      }, exactTag)
  }

  /** Ranked top-k from the stored composed tier — the plain serving
    * surface: route, Hamming-scan the probed cells' codes only,
    * exact-refine the width-deep shortlist. `epoch` time-travels a
    * retained snapshot.
    */
  def serve(s: SparkSession, dir: String, queries: DataFrame, k: Int,
      nprobe: Int = 2, width: Int = 20,
      epoch: Option[Long] = None): DataFrame = {
    import s.implicits._
    val snap = epoch.fold(FlatManifest.read(s, dir))(e =>
      FlatManifest.readAt(s, dir, e)(verifyData(s, dir)))
    val cents = centroids(s, dir)
    val routed = VectorOps.ivfBinRoute(queries, cents)
      .filter($"prank" <= nprobe).localCheckpoint(true)
    val shortlist = cellShortlist(
      probedCodes(s, dir, snap, routed), routed, width)
      .localCheckpoint(true)
    val buckets = shortlist
      .select(pmod($"neighbor", lit(Buckets)).as("bucket"))
      .distinct().as[Long].collect().toSeq
    val vecs = vectorsOf(s, dir, snap)
      .filter($"bucket".isin(buckets: _*))
      .select($"vec_id", $"qv")
    refineTopK(shortlist, vecs, queries, k)
  }

  /** Serving-loop cache keyed by committed epoch — the
    * [[BinaryStore.serveStagesCached]] discipline on the composed
    * layout: centroids + live codes (WITH their cell) + vectors pinned
    * in memory, refreshed whenever a mutation commits a new epoch; the
    * probed-cell cut applies in memory as the cid equi-join. One fused
    * job per trigger.
    */
  private val relCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String),
      (Long, DataFrame, DataFrame, DataFrame)]()

  private def invalidateCache(s: SparkSession, dir: String): Unit = {
    val old = relCache.remove((s, dir))
    if (old != null) {
      old._2.unpersist(false); old._3.unpersist(false)
      old._4.unpersist(false)
    }
  }

  private def cachedRels(s: SparkSession, dir: String,
      snap: Snap): (DataFrame, DataFrame, DataFrame) = {
    val cur = relCache.get((s, dir))
    if (cur != null && cur._1 == snap.epoch) (cur._2, cur._3, cur._4)
    else {
      val cents = centroids(s, dir).persist()
      val codes = maskCodes(s, dir, snap, codesOf(s, dir, snap)
        .select(col("vec_id"), col("w0"), col("w1"), col("cid")))
        .persist()
      val vecs = vectorsOf(s, dir, snap).select(col("vec_id"), col("qv"))
        .persist()
      cents.count(); codes.count(); vecs.count()
      relCache.put((s, dir), (snap.epoch, cents, codes, vecs))
      if (cur != null) {
        cur._2.unpersist(false); cur._3.unpersist(false)
        cur._4.unpersist(false)
      }
      (cents, codes, vecs)
    }
  }

  /** Cached ranked top-k serve — one fused job per trigger against the
    * pinned relations of the committed epoch.
    */
  def serveCached(s: SparkSession, dir: String, queries: DataFrame,
      k: Int, nprobe: Int = 2, width: Int = 20): DataFrame = {
    import s.implicits._
    val (cents, codes, vecs) = cachedRels(s, dir,
      FlatManifest.read(s, dir))
    val routed = VectorOps.ivfBinRoute(queries, cents)
      .filter($"prank" <= nprobe)
    refineTopK(cellShortlist(codes, routed, width), vecs, queries, k)
  }

  /** Hamming shortlist over probed-cell candidates: join codes to the
    * broadcast routed queries on cid, fold map-side to `width` rows
    * per query via the bounded top-k aggregator (packed (ham,
    * neighbor) id — [[VectorOps.ivfBinaryReport]]'s encoding).
    */
  private def cellShortlist(cellCodes: DataFrame, routed: DataFrame,
      width: Int): DataFrame = {
    val s = cellCodes.sparkSession
    import s.implicits._
    val P = 1099511627776L // 2^40
    cellCodes.join(broadcast(routed), Seq("cid"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id",
        (expr("CAST(bit_count(w0 ^ qw0) + bit_count(w1 ^ qw1) AS BIGINT)")
          * P + $"vec_id").as("packed"))
      .groupBy($"query_id")
      .agg(graft.functions.BoundedAggs.topScored(
        -$"packed".cast("double"), $"packed", lit(true), width).as("top"))
      .select($"query_id", posexplode($"top"))
      .select($"query_id", expr(s"col.id % ${P}L").as("neighbor"),
        ($"pos" + 1).cast("long").as("srank"))
  }

  private def refineTopK(shortlist: DataFrame, vecs: DataFrame,
      queries: DataFrame, k: Int): DataFrame = {
    val s = shortlist.sparkSession
    import s.implicits._
    VectorOps.refineRank(shortlist, vecs, queries)
      .filter($"rrank" <= k)
      .select($"query_id", $"rrank".as("rank"), $"neighbor", $"dist")
      .orderBy($"query_id", $"rank")
  }
}
