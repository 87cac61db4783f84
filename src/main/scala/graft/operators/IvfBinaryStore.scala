package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.FlatManifest.Snap
import graft.operators.GenStore.Root

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
  *     routed mutable-retrain paths are [[IvfIndex.splitCells]] and
  *     [[IvfIndex.retrainPq]]).
  *   - `codes/gen=N/cid=C/` (vec_id, w0, w1): 16 logical bytes per
  *     vector, PARTITIONED BY CELL — a serve pushes its probed cid
  *     set as a partition filter and reads only those directories
  *     (numFiles spec-pinned), which is the whole point of the
  *     composition: the flat [[BinaryStore]] scans every code,
  *     this store scans ~(nprobe/k)·N.
  *   - `vectors/gen=N/` (vec_id, qv): the refine tier, a few files per
  *     generation sorted by vec_id, shared with [[BinaryStore]]
  *     ([[BinaryGenStore]]).
  *   - `tombstones/del=…/` (vec_id), `manifest-…`: the [[GenStore]]
  *     lifecycle — exactly-once [[addBatch]], delete, compact, epoch
  *     time travel, vacuum.
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
  * k-row centroid table, the probed cid set, and the shortlist ids.
  */
object IvfBinaryStore extends BinaryGenStore(
    Root("codes", Seq("vec_id", "w0", "w1"), Seq("cid")), Nil) {
  override protected def ownsDir(name: String): Boolean =
    name == "centroids"

  /** The stored router (cid, cq). k rows — read once per serve batch
    * and broadcast.
    */
  def centroids(s: SparkSession, dir: String): DataFrame =
    s.read.schema(VectorOps.CentroidSchema).parquet(s"$dir/centroids")

  /** An ingest assigns against the STORED centroids. */
  protected def writeGen(dir: String, snap: Snap, batch: DataFrame,
      gen: Long): Set[Long] =
    writeAssigned(dir, assign(batch, centroids(batch.sparkSession, dir)),
      gen)

  private def assign(rows: DataFrame, cents: DataFrame): DataFrame =
    VectorOps.argminPacked(rows, cents, carryQv = true)
      .select(col("vec_id"), col("qv"), col("cid"))

  /** Cell-partitioned codes + the vectors from ALREADY-ASSIGNED rows
    * (vec_id, qv, cid).
    */
  private def writeAssigned(dir: String, assigned: DataFrame,
      gen: Long): Set[Long] =
    writeTiers(dir, assigned, gen)(_.select(col("vec_id"),
      expr(VectorOps.SignW0Sql).as("w0"),
      expr(VectorOps.SignW1Sql).as("w1"), col("cid")))

  /** Compaction rewrites the live vectors under their STORED cell —
    * assignment is NOT recomputed (the router is fixed, but recomputing
    * would still re-pack every code; the stored cid is the cheaper
    * identical source). Centroids are untouched: compaction changes
    * bytes, never routing.
    */
  protected def fold(s: SparkSession, dir: String, snap: Snap,
      counted: DataFrame, cells: Set[Long], masked: DataFrame => DataFrame,
      gen: Long): Set[Long] =
    writeLive(masked(rel(s, dir, snap, vecRoot))
      .select(col("vec_id"), col("qv"))
      .join(counted.select(col("vec_id"), col("cid")), "vec_id")
      .select(col("vec_id"), col("qv"), col("cid")))(
      writeAssigned(dir, _, gen))

  /** Train the router to convergence on `emb` (vec_id, qv), assign,
    * and commit as manifest epoch 1, generation 0.
    */
  def build(emb: DataFrame, dir: String): Unit = {
    val s = emb.sparkSession
    import s.implicits._
    create(s, dir)(built {
      val seeds = emb.filter($"vec_id" < 16)
        .select($"vec_id".as("cid"), $"qv".as("cq"))
      val (learned, _) = VectorOps.lloydTrain(emb, seeds,
        VectorOps.LloydMaxIters, VectorOps.LloydMinImprove)
      learned.select($"cid", $"cq").write.mode(SaveMode.Overwrite)
        .parquet(s"$dir/centroids")
      writeLive(assign(emb, learned))(writeAssigned(dir, _, 0L))
    })
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
    mask(s, dir, snap, rel(s, dir, snap, codes)
      .filter($"cid".isin(cids: _*))
      .select($"vec_id", $"w0", $"w1", $"cid"))
  }

  /** The q207 operating-point report served from the store — shared
    * verbatim with the in-memory tier, so the q208 gate hashes against
    * q207's own oracle family. Refine vectors are fetched by the
    * shortlist ids (the [[BinaryStore]] discipline).
    */
  def serveReport(s: SparkSession, d: String, dir: String,
      queries: DataFrame, exactTag: String = "full"): DataFrame = {
    val snap = FlatManifest.read(s, dir)
    val routed = VectorOps.ivfBinRoute(queries, centroids(s, dir))
      .localCheckpoint(true)
    VectorOps.ivfBinaryReport(s, d,
      probedCodes(s, dir, snap, routed), routed, queries,
      refineVecs = refineFetch(s, dir, snap, _), exactTag)
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
    val snap = snapAt(s, dir, epoch)
    val cents = centroids(s, dir)
    val routed = VectorOps.ivfBinRoute(queries, cents)
      .filter($"prank" <= nprobe).localCheckpoint(true)
    val shortlist = cellShortlist(
      probedCodes(s, dir, snap, routed), routed, width)
      .localCheckpoint(true)
    topK(VectorOps.refineRank(shortlist,
      refineFetch(s, dir, snap, shortlist), queries), k)
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
}
