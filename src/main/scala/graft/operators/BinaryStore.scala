package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.FlatManifest.Snap
import graft.operators.GenStore.Root

/** PERSISTED binary-quantization tier — the serving form of q191's
  * two-stage plan, the layout every modern vector store ships beside
  * its full-precision postings (a 1-bit sidecar scanned first, the
  * float tier touched only for the shortlist):
  *
  *   - `codes/gen=N/`   (vec_id, w0, w1): the 16-logical-byte tier.
  *     Stage 1 reads ONLY this relation — at 1B vectors it is 16 GB
  *     against the float tier's 256 GB, and the scan is two
  *     xor+popcount per candidate.
  *   - `vectors/gen=N/` (vec_id, qv): the refine tier, a few files per
  *     generation sorted by vec_id ([[BinaryGenStore]]).
  *   - `tombstones/del=…/` (vec_id), `manifest-…`: the [[GenStore]]
  *     lifecycle — exactly-once [[addBatch]], delete, compact, time
  *     travel via `epoch`, vacuum — under the same write-new-files →
  *     commit-manifest → GC protocol as [[IvfIndex]], so a production
  *     corpus refresh is an incremental commit, not a full rebuild of
  *     the 1-bit tier.
  *
  * Serve shares q191's stage code verbatim ([[VectorOps.hamShortlist]]
  * / [[VectorOps.refineRank]]), so store-serve equality is by
  * construction and the q195 gate entry hashes the stored serve
  * against q191's own oracle; q202 hashes the serve AFTER a
  * build→ingest→delete→compact sequence against a DuckDB replay of
  * the same lifecycle. Caller contract on ids: vec_ids are unique
  * across live generations (an id re-ingested without an intervening
  * delete would rank twice, exactly as in the index's postings).
  *
  * The LABELED (tenant) layout (`labels` = `label`) applies the
  * [[IvfIndex.buildLabeled]] pruning discipline: codes partition
  * `gen=…/label=…`, so a same-label serve's stage-1 scan statically
  * prunes to the batch's label directories (the unselected tenants'
  * 1-bit bytes are never opened). Generation stays the TOP level — GC
  * and the time-travel check find generation directories by name, and
  * a label-first layout would hide them (the labeled soak caught
  * exactly that on the first cut). Vectors carry `label` as a data
  * column (the refine fetch is id-keyed and label-blind — the
  * shortlist is already same-label). A store is labeled or not for its
  * lifetime.
  *
  * Scale: a build/ingest is one code-pack map pass plus two writes of
  * about one file per 512 KiB of payload, cost tracking the BATCH, never
  * the corpus; a serve is the codes scan folding map-side to `width`
  * rows per query plus a fetch of the shortlist ids only. Nothing
  * driver-sized but the shortlist ids and the manifest.
  */
private[graft] class BinaryLayout(labels: Seq[String])
    extends BinaryGenStore(Root("codes", Seq("vec_id", "w0", "w1"), labels),
      labels) {

  /** Codes packed from the same rows as the vectors; a labeled write
    * repartitions them on label so each label directory gets one file,
    * not one per task (the q156 small-files lesson).
    */
  protected def writeGen(dir: String, snap: Snap, emb: DataFrame,
      gen: Long): Set[Long] =
    writeTiers(dir, emb, gen) { rows =>
      val packed = rows.withColumn("w0", expr(VectorOps.SignW0Sql))
        .withColumn("w1", expr(VectorOps.SignW1Sql))
        .select(codes.cols.map(col): _*)
      if (labels.isEmpty) packed else packed.repartition(col("label"))
    }

  /** Compaction re-packs the live vectors (labels ride along). */
  protected def fold(s: SparkSession, dir: String, snap: Snap,
      counted: DataFrame, cells: Set[Long], masked: DataFrame => DataFrame,
      gen: Long): Set[Long] =
    writeLive(masked(rel(s, dir, snap, vecRoot))
      .select(vecRoot.data.map(col): _*))(writeGen(dir, snap, _, gen))

  /** Build from a quantized corpus (vec_id, qv[, label]) as epoch 1,
    * generation 0.
    */
  def build(emb: DataFrame, dir: String): Unit =
    create(emb.sparkSession, dir)(
      built(writeLive(emb.select(vecRoot.data.map(col): _*))(
        writeGen(dir, GenStore.Fresh, _, 0L))))

  // ---------- serving ----------

  /** Two-stage serve from the stored relations for a query batch
    * (query_id, q_qv, qw0, qw1[, label]): returns (shortlist, refined)
    * — the q191 stage shapes, so any consumer (the gate report, a
    * top-k take of rrank <= k) composes identically on either source.
    */
  def serveStages(s: SparkSession, dir: String, queries: DataFrame,
      width: Int): (DataFrame, DataFrame) =
    stagesOf(s, dir, FlatManifest.read(s, dir), queries, width)

  /** Labeled: the stage-1 scan filters codes to the BATCH's distinct
    * labels (a driver-bounded static partition filter on the `label=…`
    * directories) and the Hamming join matches per-query labels.
    */
  private def stagesOf(s: SparkSession, dir: String, snap: Snap,
      queries: DataFrame, width: Int): (DataFrame, DataFrame) = {
    import s.implicits._
    def codeRows = rel(s, dir, snap, codes).select(codes.cols.map(col): _*)
    val shortlist =
      if (labels.isEmpty)
        VectorOps.hamShortlist(mask(s, dir, snap, codeRows), queries, width)
      else {
        val ls = queries.select($"label").distinct().as[Long].collect().toSeq
        VectorOps.hamShortlistLabeled(
          mask(s, dir, snap, codeRows.filter($"label".isin(ls: _*))),
          queries, width)
      }
    (shortlist, VectorOps.refineRank(shortlist,
      refineFetch(s, dir, snap, shortlist), queries))
  }

  /** Ranked top-k — the plain serving surface. `cached = true` serves
    * from the per-generation [[ServingCache]] (the streaming path; the
    * unlabeled layout); the rows and their order are identical either
    * way (spec-pinned). `epoch` time-travels a RETAINED snapshot;
    * tombstone masks are snapshot-scoped, so an earlier epoch serves
    * rows a later delete has since removed (uncached only — pinning
    * history in executor memory is a caller decision, not a default).
    *
    * The cached path reads the manifest, pins each live generation's
    * vectors with their codes once, masks the snapshot's tombstone ids,
    * and runs shortlist and refine as ONE job ([[PinnedTopK.codes]]):
    * each pinned partition keeps every query's best `width`, the driver
    * merges them — a constant number of jobs per serve at any epoch.
    * Pinned rows are already in memory, so the partition pruning, the
    * per-serve checkpoint and the shortlist-id collect of the uncached
    * path buy nothing there and are skipped.
    */
  def serve(s: SparkSession, dir: String, queries: DataFrame, k: Int,
      width: Int = 20, cached: Boolean = false,
      epoch: Option[Long] = None): DataFrame = {
    require(epoch.isEmpty || !cached,
      "serve: time-travel reads are uncached by design")
    if (cached) {
      require(labels.isEmpty, "serve: the cached path is unlabeled")
      val live = servingLive(s, dir, FlatManifest.read(s, dir),
        noVectors(s))((g, _) => servingVectors(s, dir, g))
      PinnedTopK.codes(s, live, codeQueries(queries), k, width)
    } else topK(stagesOf(s, dir, snapAt(s, dir, epoch), queries, width)._2, k)
  }
}

/** The 1-bit store ([[BinaryLayout]]); the `*Labeled` entry points run
  * the same store over the labeled layout. delete, vacuum and
  * genReport are label-blind and serve both.
  */
object BinaryStore extends BinaryLayout(Nil) {
  private val labeled = new BinaryLayout(Seq("label"))

  def buildLabeled(emb: DataFrame, dir: String): Unit =
    labeled.build(emb, dir)

  def addBatchLabeled(s: SparkSession, dir: String, newVecs: DataFrame,
      gen: Long): Unit = labeled.addBatch(s, dir, newVecs, gen)

  def compactLabeled(s: SparkSession, dir: String): DataFrame =
    labeled.compact(s, dir)

  def serveLabeledStages(s: SparkSession, dir: String,
      queries: DataFrame, width: Int): (DataFrame, DataFrame) =
    labeled.serveStages(s, dir, queries, width)

  def serveLabeled(s: SparkSession, dir: String, queries: DataFrame,
      k: Int, width: Int = 20, epoch: Option[Long] = None): DataFrame =
    labeled.serve(s, dir, queries, k, width, epoch = epoch)
}
