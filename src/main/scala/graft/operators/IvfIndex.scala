package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.expressions.Window
import graft.operators.GenStore.{Root, genLeaves}

/** Persisted IVF index — the missing half of q147's index-BUILD path:
  * q147 relearns its centroids on every query run; a real vector-serving
  * deployment trains ONCE, persists, and serves every query (and every
  * incremental ingest batch) from the stored index. Reference surface:
  * the same coarse-quantized routing the reference's vector path
  * declares; re-expressed here as two parquet relations plus the
  * lifecycle operations, under a manifest commit protocol.
  *
  * == Storage layout (under one index directory) ==
  *   - `manifest-<epoch>` — the COMMIT MARKER: a small text file naming
  *     the current centroid version and, per cell, the set of valid
  *     posting generations. The highest committed epoch IS the index.
  *   - `centroids_v<K>/` — immutable centroid-table versions (cid, cq);
  *     the manifest points at exactly one.
  *   - `pqcodebook_v<K>/` — immutable PQ codebook versions, for the
  *     compressed store only ([[buildPq]]).
  *   - `postings/cid=<C>/[label=<L>/]gen=<G>/` — immutable posting
  *     generation directories: (vec_id, payload) partitioned by cell id
  *     (then label, for a labeled store) then generation; the payload
  *     is `qv` or a PQ `code` (see Layouts). Partitioning by cell id is
  *     the scale decision: a
  *     probe touches `nprobe` cell directories out of `nlists`, so the
  *     serve-path scan is bounded by nprobe/nlists of the corpus, and
  *     an ingest batch adds new generation directories without
  *     rewriting a byte of the base postings. Generations > 0 are
  *     ingest batches; generations <= 0 are internal (the build's gen 0
  *     and the monotonically decreasing gens compaction/splits mint).
  *   - `tombstones/` — the append-only delete log ([[delete]]).
  *
  * == Layouts ==
  * One store, four posting layouts — {raw, PQ} × {plain, labeled}:
  * {{{
  *            plain                        labeled
  *   raw      build / addBatch / serve     buildLabeled / addBatchLabeled /
  *            (serveAt, serveCached) /     serveLabeled (serveLabeledAt) /
  *            mergeFrom                    mergeFromLabeled
  *   PQ       buildPq / addBatchPq /       buildPqLabeled /
  *            servePq (servePqAt,          addBatchPqLabeled /
  *            servePqCached)               servePqLabeled
  * }}}
  * A layout decides three things and nothing else:
  *   - the partition columns: `cid[, label], gen`;
  *   - the payload: `qv`, or `code`, one packed long of PQ codes of the
  *     residual against the cell's centroid;
  *   - the write rule: labeled writes repartition by (cid, label) so
  *     each directory gets one file, plain writes do not
  *     ([[writePostings]]).
  * Each entry point delegates to one build, ingest, merge and serve
  * body. A serve returns (query_id, rank, neighbor, score) — `dist`, or
  * `adc` for PQ — plus the query's `label` for a labeled layout (which
  * ranks only same-label rows) and each hit's `cell_size` for raw
  * plain. A stored index's layout is read from its snapshot (`pqVer` >
  * 0 is PQ) and one probe for a `label=` directory under a committed
  * cell; every ingest and merge refuses, before writing, a store of
  * another layout: a label-blind write into a cid=/label=/gen= tree (or
  * the reverse) breaks partition discovery on every later read.
  *
  * == Commit protocol ==
  * The manifest protocol — write new files, commit the manifest, then
  * GC; the stale-epoch guard, retention window, crash argument and the
  * ingest watermark that makes a replayed [[addBatch]] a no-op — is the
  * shared one in [[ManifestProtocol]]; [[IndexManifest]] supplies only
  * the index's body keys (`centroids`, `pqcodebook`, `cell=`). The
  * generation lifecycle on it — the publish, exactly-once ingest,
  * delete and the tombstone mask, compaction, GC ([[vacuum]]) and the
  * time-travel existence check — is [[GenStore]]'s, with the `postings`
  * root CELL-MAJOR (`gen=` below `cid[, label]`): a posting write lands
  * in one tmp directory and each of its (cid[, label]) leaves is renamed
  * into that cell's `gen=` directory before the commit; a replay of an
  * UNcommitted attempt rewrites the tmp directory and replaces the
  * renamed leftovers instead of appending to them. The index adds its
  * versioned centroid and codebook directories to the existence check
  * and the sweep. Readers filter [[postings]] to the manifest's valid
  * (cid, gen) set, pushed as a partition-pruning predicate, so
  * uncommitted files are invisible.
  *
  * Operations:
  *   - [[build]]: train to convergence, write both relations, commit
  *     epoch 1.
  *   - [[serve]]: 2-probe exact-re-rank top-k from the STORED tables —
  *     byte-identical results to q147's in-memory serve (q152 pins
  *     this through the DuckDB oracle, which replays training and
  *     serving without ever seeing the files).
  *   - [[addBatch]]: q88-style incremental ingest — assign new vectors
  *     to the EXISTING cells (no retrain; one broadcast-argmin pass),
  *     commit their postings as a new generation, and report per-cell
  *     occupancy with a `needs_split` flag for cells past 2× the fair
  *     share — the signal that schedules a cell-local re-train, exactly
  *     how billion-vector indexes amortize Lloyd cost across ingests.
  *
  * 100 TB design: centroids are k rows (broadcast everywhere); the only
  * corpus-sized work is the build/ingest argmin (one packed long + one
  * carried vector per row through a map-side-combined aggregate) and
  * the probed-cell candidate join, never an all-pairs relation. Serving
  * reads nprobe cells; ingest appends without rewrite; the split flag
  * keeps cell sizes bounded so neither ever degrades to a full scan.
  * The manifest is O(nlists × live generations) text — driver-trivial.
  */
object IvfIndex extends GenStore {

  type Q = (SparkSession, String) => DataFrame

  private def postDir(dir: String) = s"$dir/postings"
  private def centDir(dir: String, ver: Long) = s"$dir/centroids_v$ver"

  // ---------- posting layouts ----------

  /** One of the four posting layouts (see the header's matrix). */
  private case class Layout(labeled: Boolean, pq: Boolean) {
    val carry: Seq[String] = if (labeled) Seq("label") else Nil
    val keys: Seq[String] = "cid" +: carry
    val payload: String = if (pq) "code" else "qv"
    val score: String = if (pq) "adc" else "dist"
    /** The cell-major posting root: (vec_id, payload) under
      * `postings/cid=/[label=/]gen=/`.
      */
    val root: Root = Root("postings", Seq("vec_id", payload), keys,
      cellMajor = true)
    /** The entry-point suffix: `addBatch` + suffix ingests this layout. */
    val suffix: String =
      (if (pq) "Pq" else "") + (if (labeled) "Labeled" else "")
    override def toString: String =
      (if (labeled) "LABELED " else "UNLABELED ") + (if (pq) "PQ" else "raw")
  }
  private val RawPlain = Layout(labeled = false, pq = false)
  private val RawLabeled = Layout(labeled = true, pq = false)
  private val PqPlain = Layout(labeled = false, pq = true)
  private val PqLabeled = Layout(labeled = true, pq = true)

  /** The layout of a committed store: PQ when the snapshot names a
    * codebook version, labeled when the first committed non-empty cell
    * holds a `label=` level (one [[GenStore.genLeaves]] listing). A
    * store with no committed postings reads as plain.
    */
  private def layoutOf(s: SparkSession, dir: String,
      snap: Snapshot): Layout = {
    val f = IndexManifest.fs(s, dir)
    val labeled = snap.cells.collectFirst {
      case (c, gens) if gens.nonEmpty => new Path(postDir(dir), s"cid=$c")
    }.exists(genLeaves(f, _).exists(_.getParent.getName.startsWith("label=")))
    Layout(labeled, snap.pqVer > 0)
  }

  /** The one posting write: `rows` in layout `lay` are published as
    * (vec_id, payload) generation `gen` of the cell-major `postings`
    * root ([[GenStore.writeRoot]]: one tmp-dir write, then one rename
    * per (cid[, label]) leaf into `postings/cid=/[label=/]gen=/`) — a
    * re-run REPLACES a crashed attempt's leftovers and touches no other
    * directory. Returns the cells it published: the cells left with no
    * row publish nothing, so a caller commits them an EMPTY generation
    * list, never a generation with no files. Labeled writes repartition
    * by (cid, label) so each directory gets ONE file: ~8k tiny files at
    * 32 tasks × 16 cells × 16 labels made the create storm dominate the
    * labeled build at sf10. Plain writes are NOT repartitioned: 16 cell
    * dirs × 32 tasks is no storm, and the A/B showed the full-corpus
    * (vec_id, qv) shuffle costs more than 512 creates save (q152 sf10
    * 12.0 → 14.3 s with the repartition). An ingest's rows arrive sized
    * ([[GenStore.sized]]: a micro-batch is one task, one file per cell);
    * a compaction's fold (`byCell`) repartitions by cell as well, so the
    * cells it rewrites hold one file each, not one per scan task.
    */
  private def writePostings(rows: DataFrame, dir: String, lay: Layout,
      gen: Long, byCell: Boolean = false): Set[Long] = {
    val out = rows.select(lay.root.cols.map(col): _*)
    writeRoot(lay.root, dir,
      if (lay.labeled || byCell) out.repartition(lay.keys.map(col): _*)
      else out, gen)
  }

  // ---------- control plane: the shared manifest protocol ----------

  /** One committed index state. `cells` maps cid -> valid physical
    * generations; `pqVer` is the committed PQ codebook VERSION (0 =
    * uncompressed store) — versioned like the centroids, so a
    * [[retrainPq]] bumps it and a time-travel read decodes with the
    * codebook in force at its epoch, never the latest. The shared state
    * (tombstone sets, ingest watermark, internal generation ids) is
    * [[ManifestState]]'s.
    */
  private[graft] case class Snapshot(epoch: Long, centroidsVer: Long,
      cells: Map[Long, Seq[Long]], ingested: Set[Long], nextInternal: Long,
      tombs: Seq[Long] = Nil, pqVer: Long = 0L, ingestLow: Long = 0L)
      extends ManifestState[Snapshot] {
    protected def evolve(epoch: Long, tombs: Seq[Long], ingested: Set[Long],
        ingestLow: Long, nextInternal: Long, cells: Map[Long, Seq[Long]]) =
      Snapshot(epoch, centroidsVer, cells, ingested, nextInternal, tombs,
        pqVer, ingestLow)
  }

  /** The index's body keys on the shared protocol: the centroid
    * version, the PQ codebook version (omitted for an uncompressed
    * store) and one `cell=<cid>:<gens>` line per cell.
    */
  private[graft] object IndexManifest extends ManifestProtocol("index") {
    type S = Snapshot

    protected val layout = Seq("centroids", "pqcodebook", "next_internal",
      "ingest_low", "ingested", "tombs", "cell")

    protected def body(snap: Snapshot, key: String) = key match {
      case "centroids" => Seq(snap.centroidsVer.toString)
      case "pqcodebook" =>
        if (snap.pqVer > 0) Seq(snap.pqVer.toString) else Nil
      case "cell" => snap.cells.toSeq.sortBy(_._1)
        .map { case (cid, gens) => s"$cid:${ids(gens)}" }
    }

    protected def decode(where: String, epoch: Long, sh: Shared,
        body: Seq[(String, String)]): Snapshot = {
      def last(k: String) = body.collect { case (`k`, v) => v.toLong }
        .lastOption.getOrElse(0L)
      val ver = last("centroids")
      require(ver > 0, s"manifest $where names no centroid version")
      val cells = body.collect { case ("cell", v) =>
        val Array(cid, gens) = v.split(":", 2)
        cid.toLong -> longs(gens)
      }.toMap
      Snapshot(epoch, ver, cells, sh.ingested, sh.nextInternal, sh.tombs,
        last("pqcodebook"), sh.ingestLow)
    }
  }

  // ---------- the store on the generation kernel ----------

  private[graft] type S = Snapshot
  protected def manifest: IndexManifest.type = IndexManifest
  protected val roots = Seq(RawPlain.root)
  protected val tombKey = "vec_id"

  override protected def ownsDir(name: String): Boolean =
    name.startsWith("centroids_v") || name.startsWith("pqcodebook")

  /** The centroid version and, for a PQ store, the codebook version. */
  override protected def metaDirs(snap: Snapshot): Seq[String] =
    s"centroids_v${snap.centroidsVer}" +:
      (if (snap.pqVer > 0) Seq(s"pqcodebook_v${snap.pqVer}") else Nil)

  /** Superseded centroid and codebook versions. */
  override protected def sweepMeta(f: FileSystem, dir: String,
      snaps: Seq[Snapshot]): Map[String, Long] = {
    val live = snaps.flatMap(metaDirs).toSet
    val stale = f.listStatus(new Path(dir)).map(_.getPath)
      .filter(p => ownsDir(p.getName) && !live(p.getName))
    stale.foreach(p =>
      require(f.delete(p, true), s"vacuum failed to delete $p"))
    val names = stale.map(_.getName)
    Map("stale_centroid_versions" ->
        names.count(_.startsWith("centroids_v")).toLong,
      "stale_pq_codebooks" -> names.count(_.startsWith("pqcodebook")).toLong)
  }

  private[graft] def readSnapshot(s: SparkSession, dir: String): Snapshot =
    IndexManifest.read(s, dir)

  /** The time-travel read: [[ManifestProtocol.readAt]] with the
    * [[GenStore]] existence check.
    */
  private[graft] def readSnapshotAt(s: SparkSession, dir: String,
      epoch: Long): Snapshot =
    snapAt(s, dir, Some(epoch))

  private def centroidsOf(s: SparkSession, dir: String,
      snap: Snapshot): DataFrame =
    s.read.schema(VectorOps.CentroidSchema)
      .parquet(centDir(dir, snap.centroidsVer))

  def centroids(s: SparkSession, dir: String): DataFrame =
    centroidsOf(s, dir, readSnapshot(s, dir))

  private def postingsOf(s: SparkSession, dir: String,
      snap: Snapshot): DataFrame =
    logical(rel(s, dir, snap, countedRoot(s, dir, snap)))

  /** The posting root of the store's layout: its payload column is the
    * raw vector or the PQ code.
    */
  override protected def countedRoot(s: SparkSession, dir: String,
      snap: Snapshot): Root = layoutOf(s, dir, snap).root

  private def logical(post: DataFrame): DataFrame =
    post.withColumn("gen",
      when(col("gen") <= 0, 0L).otherwise(col("gen").cast("long")))

  /** The committed posting snapshot. `gen` is reported as LOGICAL
    * lineage: internal (<= 0) generations — the build and anything
    * compaction or a split has folded — read as 0; ingest generations
    * keep their batch id. Physical generation ids stay an
    * implementation detail of the commit protocol.
    */
  def postings(s: SparkSession, dir: String): DataFrame =
    postingsOf(s, dir, readSnapshot(s, dir))

  /** The LIVE logical contents (vec_id, cid) of the committed snapshot —
    * [[postings]] with the tombstone mask applied: the relation a serve
    * ranks and a [[mergeFrom]] moves.
    */
  def liveContents(s: SparkSession, dir: String): DataFrame =
    live(s, dir, readSnapshot(s, dir))
      .select(col("vec_id"), col("cid").cast("long").as("cid"))

  /** Postings with the snapshot's tombstone mask applied — the relation
    * every serve ranks against.
    */
  override protected def live(s: SparkSession, dir: String,
      snap: Snapshot): DataFrame =
    mask(s, dir, snap, postingsOf(s, dir, snap))

  /** Train coarse centroids to convergence on `emb` (vec_id, qv) and
    * commit centroids + cell/generation-partitioned postings (gen 0)
    * as manifest epoch 1. A build OWNS its directory: any prior index
    * state there (including a crashed build's uncommitted files) is
    * removed first. See the header's Layouts.
    */
  def build(emb: DataFrame, dir: String,
      seedSmallest: Boolean = false): Unit =
    buildAs(emb, dir, RawPlain, seedSmallest)

  /** The one build body (see the header's Layouts): seed, train the
    * coarse centroids to convergence, write them as version 1, for PQ
    * train and write codebook version 1, write the gen-0 postings and
    * commit epoch 1 over the cells the write published.
    */
  private def buildAs(emb: DataFrame, dir: String, lay: Layout,
      seedSmallest: Boolean): Unit = {
    val s = emb.sparkSession
    import s.implicits._
    create(s, dir) {
      // Seed rule: the fixture-contiguous id space seeds on `vec_id < 16`.
      // A shard or a filtered corpus (q172's budget-admitted release) may
      // hold few or no ids below 16, so `seedSmallest` seeds on the 16
      // smallest ids present — a 16-long driver list, same cost class as
      // the cid collect below — and the PQ codebook reuses those ids, so
      // both quantizers share one rule.
      val seedF: Column =
        if (seedSmallest) {
          val sids = emb.select($"vec_id").orderBy($"vec_id").limit(16)
            .as[Long].collect()
          $"vec_id".isInCollection(sids)
        } else $"vec_id" < 16
      val seeds = emb.filter(seedF)
        .select($"vec_id".as("cid"), $"qv".as("cq"))
      val (learned, _) = VectorOps.lloydTrain(emb.select($"vec_id", $"qv"),
        seeds, VectorOps.LloydMaxIters, VectorOps.LloydMinImprove)
      learned.select($"cid", $"cq").write.mode(SaveMode.Overwrite)
        .parquet(centDir(dir, 1L))
      // a label rides the argmin aggregate as a min_by carry — no
      // join-back exchange
      val assigned = VectorOps.argminPacked(emb, learned, carryQv = true,
        carry = lay.carry)
      val rows = if (!lay.pq) assigned else {
        // residuals feed BOTH the codebook training and the encode — one
        // assignment pass, one checkpoint
        val resid = residualsOf(assigned, learned, lay.carry)
        val cb = trainPqCodebook(resid.select($"vec_id", $"rv"), seedF)
        writeCb(s, dir, 1L, cb)
        resid.withColumn("code", codeCol(cbLiteral(cb), $"rv"))
      }
      val present = writePostings(rows, dir, lay, 0L)
      val cids = learned.select($"cid".cast("long")).as[Long].collect().toSeq
      Snapshot(1L, 1L, cids.map(c => c -> (if (present(c)) Seq(0L)
          else Seq.empty[Long])).toMap, Set.empty, -1L,
        pqVer = if (lay.pq) 1L else 0L)
    }
  }

  /** Top-k exact-re-rank serve from the stored index: probe the
    * `probes` nearest stored cells per query, rank the probed cells'
    * stored vectors by exact int64 distance, and report each hit next
    * to its cell's posting count (the occupancy the router balances).
    * Queries broadcast (a serving batch is bounded); postings are the
    * only corpus-sized relation and only probed cells are read.
    * See the header's Layouts.
    */
  def serve(s: SparkSession, dir: String, queries: DataFrame,
      probes: Int = 2, k: Int = 5): DataFrame =
    serveSnap(s, dir, readSnapshot(s, dir), RawPlain, queries,
      nearest(probes), k)

  /** [[serve]] against the snapshot committed AS OF `epoch` — the
    * time-travel read the manifest protocol makes free: an epoch is
    * just a manifest file naming immutable directories, so serving a
    * historical state costs nothing beyond keeping its files
    * (`spark.graft.index.retainEpochs`, raised BEFORE the mutations
    * whose pre-state must stay servable). Deletes are snapshot-scoped
    * (the manifest carries its tombstone-set list), so an earlier
    * epoch's read does not see later deletes — full snapshot
    * isolation, the "reproduce last week's retrieval run" /
    * "A/B the index before and after reindexing" capability.
    * See the header's Layouts.
    */
  def serveAt(s: SparkSession, dir: String, epoch: Long,
      queries: DataFrame, probes: Int = 2, k: Int = 5): DataFrame =
    serveSnap(s, dir, readSnapshotAt(s, dir, epoch), RawPlain, queries,
      nearest(probes), k)

  /** The fixed router: each query's `probes` nearest cells. */
  private def nearest(probes: Int): Column = col("crank") <= probes

  /** The per-query (cell score, rank) relation every router selects
    * probes from: every (query, centroid) pair with its exact int64
    * centroid distance, its (cdist, cid) rank, and the query's best
    * cell distance (`cbest`) for ratio rules. |queries| × nlists rows
    * on the broadcast side — routing metadata, never corpus-sized.
    */
  private def scoredCells(s: SparkSession, cents: DataFrame,
      queries: DataFrame): DataFrame = {
    import s.implicits._
    queries.crossJoin(broadcast(cents))
      .withColumn("cdist", graft.functions.VectorMath.sqDistLong($"qv", $"cq"))
      .withColumn("crank", row_number().over(
        Window.partitionBy($"vec_id").orderBy($"cdist", $"cid")))
      .withColumn("cbest",
        min($"cdist").over(Window.partitionBy($"vec_id")))
  }

  private def serveSnap(s: SparkSession, dir: String, snap: Snapshot,
      lay: Layout, queries: DataFrame, route: Column, k: Int): DataFrame =
    serveTail(s, lay, centroidsOf(s, dir, snap),
      if (lay.pq) Some(readCb(s, dir, snap.pqVer)) else None,
      live(s, dir, snap), queries, route, k)

  /** The one serve tail (see the header's Layouts): the cells `route`
    * selects from [[scoredCells]], then one bounded per-query top-k over
    * the probed postings. For a labeled layout the label joins the cell
    * id as a probe key, so a query ranks only same-label rows; the score
    * is the exact int64 `dist` against the query vector or, for PQ, the
    * `adc` through a per-(query, probed cell) lookup table ([[lutCol]])
    * that rides the broadcast probe side. `cb` is the codebook of a PQ
    * layout.
    */
  private def serveTail(s: SparkSession, lay: Layout, cents: DataFrame,
      cb: Option[Array[Array[Array[Long]]]], post: DataFrame,
      queries: DataFrame, route: Column, k: Int): DataFrame = {
    import s.implicits._
    val probe =
      if (lay.pq) lutCol(cbLiteral(cb.get), $"qv", $"cq").as("lut")
      else $"qv".as("probe_qv")
    val probed = scoredCells(s, cents, queries).filter(route)
      .select(Seq($"vec_id".as("query_id"), probe) ++
        lay.carry.map(col) :+ $"cid": _*)
      .localCheckpoint(true)
    // The probe list (and a labeled batch's label set) IS the pruning
    // predicate: collect the distinct keys (bounded by nlists and the
    // label count, not by the batch) and push them as a STATIC partition
    // filter, so the posting scan plans to nprobe (× labels) directories
    // — DPP would have to rediscover this at runtime and its cost
    // heuristics can decline; a serving path must never fall back to
    // reading every cell.
    val pruned = post.filter(lay.keys.map(c => col(c).isin(
      probed.select(col(c)).distinct().collect().map(_.getLong(0)).toSeq: _*))
      .reduce(_ && _))
    val score =
      if (lay.pq) adcCol.as("adc")
      else graft.functions.VectorMath.sqDistLong($"qv", $"probe_qv").as("dist")
    val w = Window.partitionBy($"query_id").orderBy(col(lay.score), $"neighbor")
    val ranked = pruned.join(broadcast(probed), lay.keys)
      .filter($"vec_id" =!= $"query_id")
      .select(Seq($"query_id") ++ lay.carry.map(col) ++
        Seq($"vec_id".as("neighbor"), $"cid", score): _*)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
    val out =
      if (lay.labeled) ranked.select($"query_id", $"label", $"neighbor",
        col(lay.score), $"rank")
      else if (lay.pq) ranked.select($"query_id", $"rank", $"neighbor", $"adc")
      else ranked
        // probed cells only — the report column never needs unprobed
        // counts, and an unfiltered count would re-scan every cell
        .join(broadcast(pruned.groupBy($"cid")
          .agg(count(lit(1)).as("cell_size"))), Seq("cid"))
        .select($"query_id", $"rank", $"neighbor", $"dist", $"cell_size")
    out.orderBy($"query_id", $"rank")
  }

  // ---------- serving cache ----------

  /** Posting generation `g` of `cells` as (vec_id, payload, cid): its
    * (cid, gen) directories read with their schema.
    */
  private def servingPostings(s: SparkSession, dir: String, g: Long,
      cells: Seq[Long], lay: Layout): DataFrame = {
    val schema = s"vec_id BIGINT, ${lay.payload} " +
      (if (lay.pq) "BIGINT" else "ARRAY<BIGINT>")
    val root = postDir(dir)
    ServingCache.readDirs(s, schema, cells.map(c => s"$root/cid=$c/gen=$g"),
      root)
      .select(col("vec_id"), col(lay.payload),
        col("cid").cast("long").as("cid"))
  }

  /** [[serve]] from the per-generation [[ServingCache]] — the streaming
    * serve tier's entry point
    * ([[graft.streaming.StreamOps.knnIndexServeStream]]). Rows and their
    * order equal [[serve]]'s (spec-pinned). The manifest is read per
    * call (a commit is visible on the very next one); each live posting
    * generation is pinned once with the cells that reference it, the
    * snapshot's tombstone ids mask at serve time, and the centroid table
    * (and PQ codebook) of the snapshot's version is held on the driver.
    * See the header's Layouts.
    */
  def serveCached(s: SparkSession, dir: String, queries: DataFrame,
      probes: Int = 2, k: Int = 5): DataFrame =
    serveCachedAs(s, dir, RawPlain, queries, probes, k)

  /** [[servePq]] from the [[ServingCache]] (see [[serveCached]]; each
    * probed cell's lookup table is computed on the driver from the held
    * codebook). See the header's Layouts.
    */
  def servePqCached(s: SparkSession, dir: String, queries: DataFrame,
      probes: Int = 2, k: Int = 5): DataFrame =
    serveCachedAs(s, dir, PqPlain, queries, probes, k)

  /** The cached serve as ONE job ([[PinnedTopK.cells]]). The batch
    * routes on the driver to its `probes` nearest cells in
    * [[scoredCells]]' (distance, cid) order — a serving batch is
    * bounded; the uncached serve broadcasts it too — with one lookup
    * table per probed cell for PQ ([[lutCol]]'s table). Each pinned
    * posting is scored only against the queries probing its cell; the
    * pinned rows need no static pruning.
    */
  private def serveCachedAs(s: SparkSession, dir: String, lay: Layout,
      queries: DataFrame, probes: Int, k: Int): DataFrame = {
    import s.implicits._
    val snap = readSnapshot(s, dir)
    val post = servingLive(s, dir, snap,
      lay.root.empty(s).select("vec_id", lay.payload, "cid"))(
      servingPostings(s, dir, _, _, lay))
    val cents = ServingCache.value(s, dir, s"centroids_v${snap.centroidsVer}")(
      VectorOps.centroidRows(s, centDir(dir, snap.centroidsVer)))
    val batch = queries.select($"vec_id", $"qv").as[(Long, Array[Long])]
      .collect()
    val probed = batch.map { case (_, v) =>
      VectorOps.nearestCellIds(v.toSeq, cents, probes).toArray }
    val byCell = probed.indices.flatMap(j =>
        probed(j).indices.map(slot => probed(j)(slot) -> (j, slot)))
      .groupBy(_._1).map { case (c, js) => c -> js.map(_._2).toArray }
    val probing = (c: Long) => byCell.getOrElse(c, Array.empty[(Int, Int)])
    val ids = batch.map(_._1)
    if (lay.pq) {
      val cb = ServingCache.value(s, dir, s"pqcodebook_v${snap.pqVer}")(
        readCb(s, dir, snap.pqVer))
      val cq = cents.toMap
      val luts = batch.indices.map(j => probed(j).map(c =>
        pqLut(batch(j)._2.toSeq, cq(c), cb))).toArray
      PinnedTopK.cells(s, post, ids, lay.payload, k, lay.score, probing) {
        (r, j, slot) => graft.functions.VectorMath.pqAdcFromArrayData(
          luts(j)(slot), r.getLong(1)) }
        .select($"query_id", $"rank", $"neighbor", $"adc")
    } else {
      val vs = batch.map(_._2)
      PinnedTopK.cells(s, post, ids, lay.payload, k, lay.score, probing) {
        (r, j, _) => PinnedTopK.dist(r, 1, vs(j)) }
    }
  }

  /** One query's lookup table against probed cell centroid `cq` —
    * [[lutCol]]'s table, computed on the driver.
    */
  private def pqLut(v: Seq[Long], cq: Seq[Long],
      cb: Array[Array[Array[Long]]]): ArrayData = {
    def longs(xs: Seq[Long]) = new GenericArrayData(xs.toArray[Any])
    graft.functions.VectorMath.pqLutFromArrayData(longs(v), longs(cq),
      new GenericArrayData(cb.map(ms =>
        new GenericArrayData(ms.map(c => longs(c.toSeq)).toArray[Any])).toArray[Any]))
  }

  /** Metadata-filtered index build: the same converged coarse quantizer,
    * but every posting carries its vector's `label` attribute and the
    * posting files are partitioned `cid` then `label` (then generation).
    * This is how production vector stores make "top-k WHERE tenant = t"
    * cheap: the filter attribute lives in the physical layout, so a
    * filtered probe prunes to (nprobe × |labels in the filter|)
    * directories and the unselected labels' bytes are never opened —
    * pre-filter semantics (candidates are filtered BEFORE ranking, so
    * top-k is exact over the matching subset, never starved by
    * rank-then-filter). The label rides through the build's argmin
    * aggregate as a `min_by` carry — no join-back exchange.
    * See the header's Layouts.
    */
  def buildLabeled(emb: DataFrame, dir: String,
      seedSmallest: Boolean = false): Unit =
    buildAs(emb, dir, RawLabeled, seedSmallest)

  /** Filtered top-k serve: each query (vec_id, qv, label) ranks only
    * same-label vectors in its `probes` nearest cells. Both partition
    * levels get static pruning predicates — the probe list as in
    * [[serve]], plus the batch's distinct label set — so a
    * label-concentrated serving batch (the tenant-scoped reality) reads
    * nprobe × |batch labels| directories; the per-query label equality
    * in the join keeps per-query semantics exact even when the batch
    * spans labels. See the header's Layouts.
    */
  def serveLabeled(s: SparkSession, dir: String, queries: DataFrame,
      probes: Int = 2, k: Int = 5): DataFrame =
    serveSnap(s, dir, readSnapshot(s, dir), RawLabeled, queries,
      nearest(probes), k)

  /** [[serveLabeled]] pinned to a RETAINED epoch — labeled parity for
    * [[serveAt]] (round-13 task: the labeled lifecycle landed in round
    * 12; its time-travel read serves with the centroid version AND
    * tombstone set in force at that epoch, exactly like the unlabeled
    * path). See the header's Layouts.
    */
  def serveLabeledAt(s: SparkSession, dir: String, epoch: Long,
      queries: DataFrame, probes: Int = 2, k: Int = 5): DataFrame =
    serveSnap(s, dir, readSnapshotAt(s, dir, epoch), RawLabeled, queries,
      nearest(probes), k)

  /** Step 1 of an ingest, in the store's own layout: assign the batch
    * against the stored centroids and PQ-encode it in the same pass.
    */
  override protected def ingestRows(dir: String, snap: Snapshot,
      newVecs: DataFrame): DataFrame = {
    val s = newVecs.sparkSession
    import s.implicits._
    val lay = layoutOf(s, dir, snap)
    val cents = centroidsOf(s, dir, snap)
    val assigned = VectorOps.argminPacked(
      newVecs.select(("vec_id" +: "qv" +: lay.carry).map(col): _*), cents,
      carryQv = true, carry = lay.carry)
    val rows = if (!lay.pq) assigned else {
      // the cq join-back rides the k-row broadcast
      val cbc = cbLiteral(readCb(s, dir, snap.pqVer))
      assigned.join(broadcast(cents.select($"cid", $"cq")), Seq("cid"))
        .withColumn("code", codeCol(cbc, residCol($"qv", $"cq")))
    }
    rows.select(lay.root.cols.map(col): _*)
  }

  /** Step 2: publish the assigned rows as generation `gen`. */
  protected def writeGen(dir: String, snap: Snapshot, rows: DataFrame,
      gen: Long): Set[Long] =
    writePostings(rows, dir, layoutOf(rows.sparkSession, dir, snap), gen)

  /** Both steps of an ingest without its commit: the batch's postings
    * published as generation `gen` and never committed. Returns the
    * cells the publish renamed — read from the listing of this attempt's
    * own tmp directory, never from the posting root, which could hold a
    * crashed attempt's orphans. private[graft] so the crash-recovery
    * spec can stop between data write and commit.
    */
  private[graft] def ingestFiles(s: SparkSession, dir: String,
      newVecs: DataFrame, gen: Long): Seq[Long] = {
    val snap = readSnapshot(s, dir)
    writeGen(dir, snap, ingestRows(dir, snap, newVecs), gen).toSeq.sorted
  }

  /** Incremental ingest: assign `newVecs` (vec_id, qv) to the stored
    * cells, commit their postings as generation `gen` (> 0;
    * caller-named so a streaming sink can use its batch id), and return
    * the per-cell occupancy report — (cid, n_base, n_added, n_total,
    * needs_split) over ALL committed generations, where needs_split
    * flags cells holding more than 2× the fair 1/16 share (n_total·8 >
    * corpus total, integer-exact). One broadcast-argmin pass over the
    * batch; the base postings are never read row-wise, only counted.
    * Exactly-once under replay: a generation the manifest has already
    * committed (even one compaction has since folded) is a no-op.
    * Plain raw stores only: the other layouts refuse toward their own
    * entry point (see the header's Layouts).
    */
  def addBatch(s: SparkSession, dir: String, newVecs: DataFrame,
      gen: Long = 1L): DataFrame =
    ingestAs(s, dir, newVecs, gen, RawPlain)

  /** The one exactly-once ingest body (see the header's Layouts): refuse
    * a store of another layout, ingest the batch ([[GenStore]]: assign
    * and encode it, publish it and commit it over the cells the publish
    * renamed, unless the manifest already committed `gen`), and report
    * occupancy ([[splitReport]]).
    */
  private def ingestAs(s: SparkSession, dir: String, newVecs: DataFrame,
      gen: Long, lay: Layout): DataFrame = {
    val who = s"addBatch${lay.suffix}"
    require(!lay.labeled || newVecs.columns.contains("label"),
      s"$who: the batch must carry a label column")
    val got = layoutOf(s, dir, readSnapshot(s, dir))
    require(got == lay, s"$who: $dir is a $got store, not $lay — use " +
      s"addBatch${got.suffix}")
    ingest(s, dir, newVecs, gen)
    splitReport(s, dir)
  }

  /** [[addBatch]] for the LABELED layout: assign the batch (vec_id,
    * qv, label) to the stored cells carrying the label through the
    * argmin aggregate (the buildLabeled min_by rule), write postings
    * under cid=/label=/gen= with one file per directory (the q156
    * small-files rule), and commit generation `gen` exactly-once under
    * the same manifest discipline. This closes the labeled store's
    * lifecycle gap — build-once stores can now take incremental
    * tenant-scoped ingest like their unlabeled siblings.
    * See the header's Layouts.
    */
  def addBatchLabeled(s: SparkSession, dir: String, newVecs: DataFrame,
      gen: Long = 1L): DataFrame =
    ingestAs(s, dir, newVecs, gen, RawLabeled)

  /** [[mergeFrom]] for LABELED stores — the labeled-aware path the
    * label-blind merge refuses toward: the source's masked postings
    * move with their labels intact through one broadcast-argmin pass
    * against the DESTINATION's centroids and commit as a standard
    * exactly-once labeled ingest generation ([[addBatchLabeled]]).
    * Both sides must be raw labeled stores; generation collisions fail
    * loudly under the same `allowReplay` contract as [[mergeFrom]].
    * See the header's Layouts.
    */
  def mergeFromLabeled(s: SparkSession, dstDir: String, srcDir: String,
      gen: Long, allowReplay: Boolean = false): DataFrame =
    merge(s, dstDir, srcDir, gen, allowReplay, RawLabeled)

  /** MERGE another raw IVF store's LIVE contents into this one — the
    * shard-consolidation operation a 100 TB deployment runs when index
    * builds are sharded (per-partition / per-day builds merged into the
    * serving store): the source's masked postings (its tombstones
    * applied — a merge must not resurrect the source's deletes) are
    * re-assigned to THIS store's centroids in one broadcast-argmin pass
    * and committed as ingest generation `gen` under the standard
    * manifest discipline — visible to concurrent serve streams at its
    * commit, time-travelable, and compactable like any other ingest.
    * The source store is read through its own committed snapshot and
    * never modified.
    *
    * Generation collisions fail LOUDLY by default: [[addBatch]]'s
    * replay no-op is the right contract for a streaming sink replaying
    * its own batch ids, but a shard consolidation that accidentally
    * reuses a generation id across DIFFERENT sources would silently
    * drop an entire shard's rows while returning a normal report —
    * indistinguishable from success. A caller recovering a crashed
    * merge of the SAME source opts into the no-op explicitly with
    * `allowReplay = true` (the exactly-once posture), which is safe
    * precisely because the caller is asserting src/gen identity.
    *
    * Raw UNLABELED stores only (both sides): PQ codes are
    * codebook-relative, so merging a compressed store means
    * decode→re-encode — a LOSSY step a deployment must opt into
    * explicitly (re-encode from the original vectors instead); and a
    * labeled store's postings live under a cid=/label=/gen= layout, so
    * a label-blind merge would both drop the source's labels and write
    * cid=/gen= directories into the destination's three-level tree,
    * corrupting partition discovery for every later read — refusing
    * both keeps the merged store bit-exact.
    *
    * Scale: the moved bytes are the SOURCE's live postings exactly once
    * (one scan, one argmin exchange, one partitioned write); the
    * destination's existing postings are untouched files — merge cost
    * tracks the smaller shard, never the serving store.
    * See the header's Layouts.
    */
  def mergeFrom(s: SparkSession, dstDir: String, srcDir: String,
      gen: Long, allowReplay: Boolean = false): DataFrame =
    merge(s, dstDir, srcDir, gen, allowReplay, RawPlain)

  /** The one merge body: both stores must hold the raw layout `lay`,
    * then the source's masked postings commit into the destination as
    * one exactly-once ingest generation ([[ingestAs]]).
    */
  private def merge(s: SparkSession, dstDir: String, srcDir: String,
      gen: Long, allowReplay: Boolean, lay: Layout): DataFrame = {
    val who = s"mergeFrom${lay.suffix}"
    val srcSnap = readSnapshot(s, srcDir)
    val dstSnap = readSnapshot(s, dstDir)
    Seq(("source", srcDir, srcSnap), ("destination", dstDir, dstSnap))
      .foreach { case (role, d, snap) =>
        val got = layoutOf(s, d, snap)
        require(!got.pq, s"$who: $role $d is a PQ store (codebook " +
          s"v${snap.pqVer}); PQ codes are codebook-relative — re-encode " +
          "from the original vectors instead of merging stores")
        require(got == lay, s"$who: $role $d is a $got store — use " +
          s"mergeFrom${got.suffix}")
      }
    require(allowReplay || !dstSnap.committedIngest(gen),
      s"$who: destination $dstDir already committed ingest " +
        s"generation $gen (ingest_low=${dstSnap.ingestLow}) — merging " +
        "another source under a reused generation id would be silently " +
        "skipped and its rows lost; use a fresh gen per source, or pass " +
        "allowReplay=true if this IS a recovery replay of the same source")
    ingestAs(s, dstDir, live(s, srcDir, srcSnap)
      .select(("vec_id" +: "qv" +: lay.carry).map(col): _*), gen, lay)
  }

  /** CLONE a retained epoch of `srcDir` as an INDEPENDENT store at
    * `dstDir` — the rollback / fork-for-experiment operation the
    * time-travel reads stop short of: [[serveAt]] keeps history
    * readable only while the retention window covers it, but a
    * deployment that wants to PIN a state (roll back a bad reindex,
    * fork a store for an offline experiment, seed a staging serve)
    * needs that state as a first-class store with its own lifecycle.
    * The clone materializes the epoch's LOGICAL contents — the
    * tombstone mask applied physically — as a fresh base generation
    * per cell, copies that epoch's centroid version (and PQ codebook,
    * for a compressed store) as version 1 of the clone, and commits
    * manifest epoch 1. No file is shared: the clone is immune to the
    * source's later mutations, GC, and vacuum, and is itself
    * ingestable / deletable / compactable / clonable. Rows are carried
    * as-is (vec_id, cid[, label][, code]) with NO re-assignment and no
    * re-encoding, so the clone's serve is bit-equal to [[serveAt]] /
    * [[servePqAt]] on the source epoch — the spec pins both, and the
    * q179 gate entry hashes a clone's serve against the oracle's
    * replay of the epoch state.
    *
    * Scale: one partition-pruned scan of the epoch's postings (the
    * validity predicate prunes to its directories), one partitioned
    * write, metadata copies for centroids/codebook — proportional to
    * the SNAPSHOT, independent of the source's full mutation history.
    */
  def cloneAt(s: SparkSession, srcDir: String, epoch: Long,
      dstDir: String): DataFrame = {
    require(new Path(srcDir).toUri.getPath !=
        new Path(dstDir).toUri.getPath,
      s"cloneAt: source and destination are the same directory ($srcDir)")
    val snap = readSnapshotAt(s, srcDir, epoch)
    create(s, dstDir) {
      s.read.parquet(centDir(srcDir, snap.centroidsVer))
        .write.mode(SaveMode.Overwrite).parquet(centDir(dstDir, 1L))
      if (snap.pqVer > 0)
        s.read.parquet(pqCbDir(srcDir, snap.pqVer))
          .write.mode(SaveMode.Overwrite).parquet(pqCbDir(dstDir, 1L))
      val present = writePostings(live(s, srcDir, snap), dstDir,
        layoutOf(s, srcDir, snap), 0L)
      val cells = snap.cells.map { case (c, _) =>
        c -> (if (present(c)) Seq(0L) else Seq.empty[Long]) }
      Snapshot(1L, 1L, cells, Set.empty, snap.nextInternal, Nil,
        pqVer = if (snap.pqVer > 0) 1L else 0L)
    }
    splitReport(s, dstDir)
  }

  /** Execute the re-splits [[addBatch]]'s `needs_split` flag schedules:
    * for every flagged cell, train a 2-centroid Lloyd to convergence on
    * THAT CELL'S stored postings only (seeds = the cell's two smallest
    * vec_ids; the same lloydTrain loop as the build, stop rule
    * included), give the two halves fresh cell ids past the current
    * max, write the re-homed postings as a fresh internal generation,
    * commit a manifest that swaps the hot cell for its halves and
    * points at the new centroid version, then delete the superseded
    * directories. Readers either see the pre-split or post-split index,
    * never a mixture. Returns the post-split occupancy report.
    *
    * This is how a billion-vector index amortizes Lloyd cost: the full
    * build never re-runs — maintenance touches exactly the hot cells'
    * bytes (read one partition directory, write two), the rest of the
    * postings are untouched files, and the centroid table changes by
    * flagged-cells×2 rows. The driver loop is bounded by nlists, and
    * each per-cell training pass is corpus-work proportional to that
    * cell alone. A split folds its cell's generations (like [[compact]]
    * localized to one cell), so re-homed rows report logical gen 0.
    */
  def splitCells(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val flagged = splitReport(s, dir)
      .filter($"needs_split" === 1L).select($"cid")
      .as[Long].collect().toSeq
    if (flagged.nonEmpty) {
      val snap = readSnapshot(s, dir)
      // labeled stores keep their label through the rewrite: the first
      // cut selected only (vec_id, qv) and partitioned by (cid, gen),
      // which DROPPED labels and wrote label-less partition dirs into a
      // cid=/label=/gen= tree — the same corruption class the labeled
      // mergeFrom guard closed. Caught by the labeled-store soak.
      val lay = layoutOf(s, dir, snap)
      val cents = centroids(s, dir)
        .select($"cid".cast("long").as("cid"), $"cq")
        .localCheckpoint(true)
      var nextCid = cents.agg(max($"cid")).head().getLong(0) + 1
      var intGen = snap.nextInternal
      var cells = snap.cells
      val keptCents = cents.filter(!$"cid".isin(flagged: _*))
      val newCents = flagged.map { hot =>
        val cell = postings(s, dir).filter($"cid" === hot)
          .select(("vec_id" +: "qv" +: lay.carry).map(col): _*)
          .localCheckpoint(true)
        val seedIds = cell.select($"vec_id").orderBy($"vec_id").limit(2)
          .as[Long].collect()
        val seeds = cell.filter($"vec_id".isin(seedIds: _*))
          .select(($"vec_id" === seedIds.max).cast("int").cast("long")
            .as("cid"), $"qv".as("cq"))
        val (learned, _) = VectorOps.lloydTrain(
          cell.select($"vec_id", $"qv"), seeds,
          VectorOps.LloydMaxIters, VectorOps.LloydMinImprove)
        // local cid 0/1 from the 2-way train -> fresh global ids only
        // at the storage boundary
        val lo = nextCid; nextCid += 2
        val g = intGen; intGen -= 1
        val remapped = learned.select(($"cid" + lo).as("cid"), $"cq")
          .localCheckpoint(true)
        val halves = writePostings(VectorOps.argminPacked(cell, learned,
            carryQv = true, carry = lay.carry)
          .withColumn("cid", $"cid" + lo), dir, lay, g)
        // a degenerate 2-way train can leave one half memberless: that
        // half published nothing and commits an EMPTY generation list,
        // never a file-less gen
        cells = cells - hot ++ Seq(lo, lo + 1).map(c =>
          c -> (if (halves(c)) Seq(g) else Seq.empty[Long]))
        remapped
      }.reduce(_ unionByName _)
      val newVer = snap.centroidsVer + 1
      keptCents.unionByName(newCents)
        .write.mode(SaveMode.Overwrite).parquet(centDir(dir, newVer))
      // the old hot-cell directories and the superseded centroid version
      // fall out of the retained set (unless a wider retention window
      // keeps them for time travel)
      commitAndSweep(s, dir, snap.next(cells = cells, nextInternal = intGen)
        .copy(centroidsVer = newVer))
    }
    splitReport(s, dir)
  }

  // ---------- PQ-compressed store (q159) ----------

  private def pqCbDir(dir: String, ver: Long) = s"$dir/pqcodebook_v$ver"

  /** Fixed number of per-subspace k-means rounds the PQ codebook
    * trainer runs ([[trainPqCodebook]]). Fixed — not convergence-
    * stopped — so the DuckDB oracle unrolls exactly this many stages
    * with no stop decision to replay.
    */
  private[graft] val PqTrainIters = 2

  /** The 8×16×8 PQ codebook as a nested array LITERAL column (1024
    * longs, bounded by construction): with the codebook inlined into
    * the expression tree, encoding and ADC reconstruction are pure
    * per-row projections — no codebook join, no extra exchange, on
    * either the build or the serve path.
    */
  private def cbLiteral(cb: Array[Array[Array[Long]]]): Column =
    array(cb.map(ms => array(ms.map(cs =>
      array(cs.map(lit): _*)): _*)): _*)

  /** Per-row PQ encode of the RESIDUAL `rv` against the literal
    * codebook: for each of the 8 subspaces, the index of the nearest of
    * its code vectors (ties to the LOWEST code, matching the oracle's
    * (distance, code) order), packed 4 bits per subspace into ONE long.
    * 8 codes = 8 bytes logical — the q90 compression argument, now in
    * the stored layout. A native codegen'd expression
    * ([[graft.functions.VectorMath.pqEncode]]): the corpus-sized encode
    * pass is one tight JIT'd loop, not 128 interpreted HOF lambdas per
    * row.
    */
  private def codeCol(cbc: Column, rv: Column): Column =
    graft.functions.VectorMath.pqEncode(rv, cbc)

  /** Per-(query, probed cell) ADC lookup table: for each subspace, the
    * exact int64 distance from the query RESIDUAL's subvector (query −
    * the probed cell's centroid — codes encode residuals, so the query
    * side must live in the same residual space) to EVERY codebook
    * entry — 8×16 longs computed once per (query, probe). With the
    * table carried on the broadcast probe side, a candidate's
    * asymmetric distance is eight table lookups summed ([[adcCol]])
    * instead of a per-candidate vector reconstruction — the classic ADC
    * serving shape (q90's scaladoc names it), and identical integers:
    * ||(q − cq) − recon||² = ||q − (cq + recon)||² decomposes exactly
    * over the 8 disjoint subspaces. A fused native expression
    * ([[graft.functions.VectorMath.pqLut]]): the HOF form re-evaluated
    * the interpreted residual zip_with under each of the 128 table
    * cells, which halved the streaming PQ serve rate.
    */
  private def lutCol(cbc: Column, v: Column, cq: Column): Column =
    graft.functions.VectorMath.pqLut(v, cq, cbc)

  /** query − probed-cell centroid, the residual the LUT is built from. */
  private def residCol(v: Column, cq: Column): Column =
    zip_with(v, cq, (a, b) => a - b)

  /** Sum of the 8 per-subspace table lookups addressed by the packed
    * `code` — the candidate-side half of the ADC split, as a native
    * codegen'd expression ([[graft.functions.VectorMath.pqAdc]]): the
    * per-candidate cost in the probed-cell scan is 8 array reads in a
    * JIT'd loop.
    */
  private def adcCol: Column =
    graft.functions.VectorMath.pqAdc(col("lut"), col("code"))

  private def readCb(s: SparkSession, dir: String,
      ver: Long): Array[Array[Array[Long]]] = {
    require(ver > 0, s"index $dir has no PQ codebook (pqVer $ver) — " +
      "not a PQ store")
    cbOf(s.read.schema("m INT, c INT, cvec ARRAY<BIGINT>")
      .parquet(pqCbDir(dir, ver)))
  }

  /** The 8 × codes codebook array of (m, c, cvec) rows. A filtered build
    * may have fewer than 16 seed ids below 16 — the codebook is then
    * smaller (codes stay dense 0..n-1, still 4-bit).
    */
  private def cbOf(rows: DataFrame): Array[Array[Array[Long]]] = {
    val s = rows.sparkSession
    import s.implicits._
    val got = rows.select($"m", $"c", $"cvec").as[(Int, Int, Seq[Long])]
      .collect()
    val cb = Array.ofDim[Array[Long]](8, got.map(_._2).max + 1)
    got.foreach { case (m, c, v) => cb(m)(c) = v.toArray }
    cb.foreach(ms => require(ms.forall(_ != null), "codebook has gaps"))
    cb
  }

  /** TRAIN the PQ codebook: per-subspace k-means (16 codes × 8
    * subspaces) over the training population's RESIDUALS — vector minus
    * its cell's coarse centroid — which is where IVF-PQ recall comes
    * from: residual magnitudes are a fraction of raw coordinates, so 4
    * bits per subspace spend their resolution on the part of the vector
    * the coarse quantizer has not already explained. Seeds are the
    * residual slices of the 16 smallest vec_ids (dense-ranked, the same
    * gap-tolerant discipline as before); [[PqTrainIters]] fixed Lloyd
    * rounds follow, each ONE exchange over the exploded (vec_id, m,
    * slice) relation: packed argmin per (vec_id, m) — radix 16 is exact
    * here because code ids are 0..15 by construction — then a floor-
    * mean update per (m, code), codes that lose every member keeping
    * their previous vector so the codebook never shrinks. All
    * integer-exact (floor(sum/n) in IEEE double, |sum| far below 2^53),
    * so the DuckDB oracle unrolls the rounds relationally.
    *
    * Scale: training cost is PqTrainIters passes over 8 slice rows per
    * vector (the same byte volume as one full-vector pass each), all
    * map-side-combinable; driver state is the 8×16×8 codebook.
    */
  private[graft] def trainPqCodebook(resid: DataFrame,
      seedF: Column = col("vec_id") < 16): Array[Array[Array[Long]]] = {
    val s = resid.sparkSession
    import s.implicits._
    val sub = resid.select($"vec_id", posexplode(expr(
        "transform(sequence(0, 7), m -> slice(rv, m*8 + 1, 8))")))
      .select($"pos".as("m"), $"vec_id", $"col".as("sv"))
    var cb = sub.filter(seedF)
      .withColumn("c", (dense_rank().over(
        Window.partitionBy($"m").orderBy($"vec_id")) - 1).cast("int"))
      .select($"m", $"c", $"sv".as("cvec"))
      .localCheckpoint(true)
    for (_ <- 0 until PqTrainIters) {
      val assigned = sub.join(broadcast(cb), Seq("m"))
        .withColumn("dd",
          graft.functions.VectorMath.sqDistLong($"sv", $"cvec"))
        .groupBy($"vec_id", $"m")
        .agg(min($"dd" * 16L + $"c").as("packed"),
          expr("min_by(sv, dd * 16 + c)").as("sv"))
        .withColumn("c", pmod($"packed", lit(16L)).cast("int"))
      val upd = assigned.groupBy($"m", $"c")
        .agg(count(lit(1)).as("n"),
          graft.functions.BoundedAggs.vecSum($"sv").as("sums"))
        .select($"m", $"c", expr(
          "transform(sums, sv -> CAST(floor(CAST(sv AS DOUBLE) / n) AS BIGINT))"
        ).as("ncvec"))
      cb = cb.join(upd, Seq("m", "c"), "left")
        .select($"m", $"c", coalesce($"ncvec", $"cvec").as("cvec"))
        .localCheckpoint(true)
    }
    cbOf(cb)
  }

  private def writeCb(s: SparkSession, dir: String, ver: Long,
      cb: Array[Array[Array[Long]]]): Unit = {
    import s.implicits._
    cb.zipWithIndex.flatMap { case (ms, m) =>
      ms.zipWithIndex.map { case (cv, c) => (m, c, cv.toSeq) }
    }.toSeq.toDF("m", "c", "cvec")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(pqCbDir(dir, ver))
  }

  /** The (vec_id, cid, rv) residual relation for an assigned population
    * — the training and encode input. One broadcast join against the
    * k-row centroid table; eagerly checkpointed because builders consume
    * it PqTrainIters + 1 times.
    */
  private def residualsOf(assigned: DataFrame, cents: DataFrame,
      carry: Seq[String] = Nil): DataFrame = {
    val s = assigned.sparkSession
    import s.implicits._
    assigned.join(broadcast(cents.select($"cid", $"cq")), Seq("cid"))
      .select((Seq($"vec_id", $"cid",
        zip_with($"qv", $"cq", (a, b) => a - b).as("rv")) ++
        carry.map(col)): _*)
      .localCheckpoint(true)
  }

  /** Build the PQ-COMPRESSED store: the same converged coarse quantizer
    * as [[build]], but postings carry ONE packed int64 of PQ codes per
    * vector instead of the 64-long vector — 8 logical bytes against
    * 512, which is the difference between a billion-vector index that
    * fits the cluster's memory/cache tier and one that doesn't (q90's
    * argument, persisted). The codebook is TRAINED — per-subspace
    * k-means over the build corpus's RESIDUALS ([[trainPqCodebook]]),
    * the standard IVF-PQ recipe, which is where PQ recall comes from —
    * written as an immutable VERSION beside the centroids and named by
    * the manifest (`pqVer`): codes are codebook-relative and
    * cell-independent, so cell maintenance never re-encodes; changing
    * the codebook is [[retrainPq]], which re-encodes under a new
    * version and bumps the manifest, keeping historical epochs
    * decodable with the codebook in force when they were served. The
    * coarse assignment, residual, and encode ride ONE corpus pass plus
    * the bounded training rounds (encode is a per-row literal-codebook
    * projection — no codebook join on the write path).
    * See the header's Layouts.
    */
  def buildPq(emb: DataFrame, dir: String,
      seedSmallest: Boolean = false): Unit =
    buildAs(emb, dir, PqPlain, seedSmallest)

  /** Top-k ADC serve from the compressed store: probe as [[serve]],
    * then rank the probed cells' candidates by exact asymmetric
    * distance via the per-query lookup table ([[lutCol]]): the table is
    * computed once per query (8×16 distances) and rides the broadcast
    * probe side, so the corpus-side cost per candidate is eight table
    * lookups on the stored long — no reconstruction, no codebook
    * relation in the plan. The posting scan reads (vec_id, code): 8
    * logical bytes per candidate where [[serve]] reads 512 — the serve
    * path the compression exists for. Approximate by construction (PQ
    * error), which is why [[q158]]-style recall gating exists; results
    * are still fully deterministic (integer ADC, (adc, neighbor) ties,
    * and the LUT sum equals the reconstruction distance exactly — the
    * squared distance decomposes over the 8 disjoint subspaces).
    * See the header's Layouts.
    */
  def servePq(s: SparkSession, dir: String, queries: DataFrame,
      probes: Int = 2, k: Int = 5): DataFrame =
    serveSnap(s, dir, readSnapshot(s, dir), PqPlain, queries,
      nearest(probes), k)

  /** [[servePq]] at a pinned epoch — see [[serveAt]] for the snapshot
    * semantics. The codebook is VERSIONED like the centroids: the
    * snapshot's `pqVer` names the codebook its codes were encoded
    * against, so a historical read after a [[retrainPq]] decodes with
    * that epoch's codebook, never the latest. See the header's Layouts.
    */
  def servePqAt(s: SparkSession, dir: String, epoch: Long,
      queries: DataFrame, probes: Int = 2, k: Int = 5): DataFrame =
    serveSnap(s, dir, readSnapshotAt(s, dir, epoch), PqPlain, queries,
      nearest(probes), k)

  /** Distance-ratio-adaptive probe rule: probe a query's cells in
    * centroid-distance order WHILE `cdist · den ≤ cbest · num`, up to
    * `maxProbes` (the best cell always probes). Integer
    * cross-multiplied, so both engines route identically. This is the
    * multi-probe reallocation every tuned ANN serve runs: a query whose
    * routing is clear-cut (second cell far beyond ratio × best) pays
    * ONE cell; an ambiguous query (several near-equidistant cells — the
    * kind fixed nprobe=2 starves) widens toward maxProbes — recall
    * concentrates where the probes actually help, at equal or lower
    * total probed mass (q173's adaptive row measures exactly that
    * against the fixed levels).
    */
  private def adaptiveRule(num: Long, den: Long, maxProbes: Int): Column =
    col("crank") === 1 ||
      (col("crank") <= maxProbes &&
        col("cdist") * den <= col("cbest") * num)

  /** The shipped adaptive operating point (q173's adaptive row and its
    * oracle replay both pin these): widen while a cell's centroid
    * distance is within [[AdaptRatioNum]]/[[AdaptRatioDen]] of the
    * best, never past [[AdaptMaxProbes]] cells. 21/20 is the
    * mass-parity point vs fixed nprobe=2 on the sf0.1 sweep
    * (BENCH_SF10.json `adaptive_probe_round12`): probed mass 4978 vs
    * 4968 with routing ceiling 490 vs 480‰ and refine-100 recall 480
    * vs 470‰ — the margin is small on the near-isotropic synthetic
    * corpus (centroid-distance ratios cluster near 1, so the rule has
    * little signal to work with) and is the lever that grows on
    * clustered real embeddings.
    */
  private[graft] val AdaptRatioNum = 21L
  private[graft] val AdaptRatioDen = 20L
  private[graft] val AdaptMaxProbes = 4

  /** ADC-shortlist + exact re-rank — the two-stage serve every deployed
    * PQ system runs: [[servePq]] ranks the probed cells by asymmetric
    * distance on the 8-byte codes and keeps a SHORTLIST of
    * `shortlistK` (not k) candidates, then only those ids are looked up
    * in the full-precision corpus (`corpus`: vec_id, qv — in a
    * deployment the uncompressed store or the source table; the index
    * itself keeps no full vectors, that being the point of PQ) and
    * re-ranked by exact int64 distance. Compression error can demote a
    * true neighbor a few ADC ranks but rarely past a 5× shortlist, so
    * the refine stage recovers most of the recall the codes lose —
    * [[q161]] measures exactly that (ADC-only vs refined recall against
    * the exact top-k, same integer-set discipline as [[q158]]).
    *
    * Scale: the corpus-sized work is ONE scan filtered by a broadcast
    * join on |queries|·shortlistK ids (never a gather of full vectors
    * through the ranking shuffle); the re-rank itself is
    * |queries|·shortlistK rows — serving-batch-bounded.
    */
  def servePqRefine(s: SparkSession, dir: String, queries: DataFrame,
      corpus: DataFrame, probes: Int = 2, shortlistK: Int = 25,
      k: Int = 5): DataFrame = {
    import s.implicits._
    refineShortlist(s, queries, corpus,
      servePq(s, dir, queries, probes, shortlistK)
        .select($"query_id", $"neighbor"), k)
  }

  /** The refine stage alone: exact re-rank of an already-served ADC
    * shortlist. Split out so an evaluation that needs BOTH serve stages
    * (q161/q162) runs the ADC ranking ONCE — the stage-1 top-k is a
    * prefix of the same (adc, neighbor) ranking that feeds the
    * shortlist, so serving k and shortlistK separately would compute
    * the identical probed-cell scan twice.
    */
  private[graft] def refineShortlist(s: SparkSession, queries: DataFrame,
      corpus: DataFrame, short: DataFrame, k: Int): DataFrame = {
    import s.implicits._
    val qside = queries.select($"vec_id".as("query_id"), $"qv".as("q_qv"))
    val w = Window.partitionBy($"query_id").orderBy($"dist", $"neighbor")
    corpus.select($"vec_id".as("neighbor"), $"qv".as("n_qv"))
      .join(broadcast(short), Seq("neighbor"))
      .join(broadcast(qside), Seq("query_id"))
      .select($"query_id", $"neighbor",
        graft.functions.VectorMath.sqDistLong($"n_qv", $"q_qv").as("dist"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter($"rank" <= k)
      .select($"query_id", $"rank", $"neighbor", $"dist")
      .orderBy($"query_id", $"rank")
  }

  /** Incremental ingest into the COMPRESSED store: one broadcast-argmin
    * pass assigns the batch to the stored cells, the literal-codebook
    * projection encodes it in the same pass, and the packed-code postings
    * commit as generation `gen` under the identical manifest discipline
    * as [[addBatch]] — exactly-once under replay, including across
    * compactions ([[compact]] is layout-agnostic, so the full mutable
    * lifecycle holds for the 8-byte postings too). The codebook is
    * immutable, so ingested codes are directly comparable with the
    * build's. See the header's Layouts.
    */
  def addBatchPq(s: SparkSession, dir: String, newVecs: DataFrame,
      gen: Long = 1L): DataFrame =
    ingestAs(s, dir, newVecs, gen, PqPlain)

  /** [[addBatchPq]] for LABELED PQ stores — the matrix's fourth cell
    * ({PQ} × {filtered}) gets its incremental ingest: the batch
    * (vec_id, qv, label) assigns against the stored centroids,
    * residual-encodes under the CURRENT codebook version, and commits
    * as generation `gen` under the standard exactly-once manifest
    * discipline, with the label riding the argmin aggregate and the
    * cid=/label=/gen= layout preserved (one file per directory — the
    * buildLabeled file-storm rule). Unlabeled stores refuse toward
    * [[addBatchPq]], mirroring its guard. See the header's Layouts.
    */
  def addBatchPqLabeled(s: SparkSession, dir: String, newVecs: DataFrame,
      gen: Long = 1L): DataFrame =
    ingestAs(s, dir, newVecs, gen, PqLabeled)

  /** RETRAIN the PQ codebook on the LIVE corpus's residuals and
    * re-encode every live posting under a NEW codebook version — the
    * "reindex the compressed tier" maintenance a deployed PQ store runs
    * when drift (ingest distribution shift, heavy deletes) erodes code
    * quality. PQ codes are lossy, so re-encoding needs the FULL vectors
    * back: `corpus` (vec_id, qv) is the source of truth (the refine
    * tier's lookup store in a deployment); live ids missing from it
    * fail loudly rather than silently shrinking the index.
    *
    * The old codebook version's files stay until retention lets GC take
    * them, and the manifest pins `pqVer` per epoch — so [[servePqAt]]
    * before the retrain epoch decodes with the OLD codebook against the
    * OLD generations, bit-identical to what it served then
    * (TimeTravelSpec pins this). Tombstones are folded physically (the
    * re-encode writes only live rows), making retrain also a full
    * compaction.
    *
    * Scale: one corpus-sized join (live ids × corpus vectors), the
    * bounded training rounds, one encode pass, one write of every live
    * cell — by construction a full-index rewrite, the most expensive
    * maintenance op, run on reindex cadence, never per ingest.
    */
  def retrainPq(s: SparkSession, dir: String, corpus: DataFrame): Unit = {
    import s.implicits._
    val snap = readSnapshot(s, dir)
    require(snap.pqVer > 0, s"index $dir is not a PQ store")
    val lay = layoutOf(s, dir, snap)
    val cents = centroidsOf(s, dir, snap)
      .select($"cid".cast("long").as("cid"), $"cq")
    val liveRows = live(s, dir, snap)
    val withV = liveRows.select(("vec_id" +: lay.keys).map(c =>
        col(c).cast("long").as(c)): _*)
      .join(corpus.select($"vec_id", $"qv"), Seq("vec_id"))
    val resid = residualsOf(withV, cents, lay.carry)
    val nLive = liveRows.count()
    require(resid.count() == nLive,
      s"retrainPq: corpus covers only ${resid.count()} of $nLive live " +
        "vectors — refusing a lossy re-encode")
    val newCb = trainPqCodebook(resid.select($"vec_id", $"rv"))
    val newPqVer = snap.pqVer + 1
    writeCb(s, dir, newPqVer, newCb)
    val newGen = snap.nextInternal
    val touched = writePostings(
      resid.withColumn("code", codeCol(cbLiteral(newCb), $"rv")), dir, lay,
      newGen)
    val cells = snap.cells.map { case (c, _) =>
      c -> (if (touched(c)) Seq(newGen) else Seq.empty[Long]) }
    commitAndSweep(s, dir, snap.next(cells = cells,
      nextInternal = newGen - 1L, tombs = Nil).copy(pqVer = newPqVer))
  }

  /** The matrix's fourth cell — {uncompressed, PQ} × {unfiltered,
    * filtered}: the metadata-filtered build ([[buildLabeled]]) on the
    * COMPRESSED layout. Postings carry ONE packed int64 of PQ codes and
    * are partitioned `cid`, then `label`, then generation, so a
    * filtered ADC probe prunes to (nprobe × |batch labels|) directories
    * of 8-logical-byte rows — the tenant-scoped serving path at the
    * compressed footprint. Label rides the argmin aggregate as a
    * min_by carry; the encode is the same single-pass literal-codebook
    * projection as [[buildPq]]. See the header's Layouts.
    */
  def buildPqLabeled(emb: DataFrame, dir: String,
      seedSmallest: Boolean = false): Unit =
    buildAs(emb, dir, PqLabeled, seedSmallest)

  /** Filtered ADC top-k: each query (vec_id, qv, label) ranks only
    * same-label packed codes in its `probes` nearest cells by exact
    * integer asymmetric distance. Both partition levels get static
    * pruning predicates (the probe list + the batch's label set, as in
    * [[serveLabeled]]); the per-query LUT rides the broadcast probe
    * side as in [[servePq]]. Pre-filter semantics: candidates are
    * label-filtered BEFORE ranking, so top-k is exact over the matching
    * subset. See the header's Layouts.
    */
  def servePqLabeled(s: SparkSession, dir: String, queries: DataFrame,
      probes: Int = 2, k: Int = 5): DataFrame =
    serveSnap(s, dir, readSnapshot(s, dir), PqLabeled, queries,
      nearest(probes), k)

  /** What did the index CHANGE between two epochs — the reindex audit
    * every deployment wants before flipping traffic: per cell, how many
    * vectors were added, removed, moved in, moved out, or stable
    * between the LOGICAL contents (tombstone masks applied, so this
    * diffs what serving would actually see) of epoch A and epoch B,
    * plus the overall row at cid = -1. Built entirely on the snapshot
    * reads, so it needs both epochs inside the retention window.
    *
    * Scale: one vec_id-keyed full-outer join of the two posting
    * snapshots (each side reads only its manifest's valid directories)
    * — two corpus exchanges, then the per-row classification folds to
    * (cell, kind) contributions that partial-aggregate map-side to
    * cell cardinality. No window, no driver-side content.
    */
  def snapshotDiff(s: SparkSession, dir: String, epochA: Long,
      epochB: Long): DataFrame = {
    import s.implicits._
    val a = live(s, dir, readSnapshotAt(s, dir, epochA))
      .select($"vec_id", $"cid".cast("long").as("cid_a"))
    val b = live(s, dir, readSnapshotAt(s, dir, epochB))
      .select($"vec_id", $"cid".cast("long").as("cid_b"))
    val contrib = a.join(b, Seq("vec_id"), "full_outer")
      .select(explode(expr(
        """CASE
             WHEN cid_a IS NULL THEN array(struct(cid_b AS cell, 'added' AS kind))
             WHEN cid_b IS NULL THEN array(struct(cid_a AS cell, 'removed' AS kind))
             WHEN cid_a = cid_b THEN array(struct(cid_a AS cell, 'stable' AS kind))
             ELSE array(struct(cid_a AS cell, 'moved_out' AS kind),
                        struct(cid_b AS cell, 'moved_in' AS kind))
           END""")).as("c"))
      .select($"c.cell".as("cid"), $"c.kind".as("kind"))
    val per = contrib.groupBy($"cid")
      .agg(sum(when($"kind" === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when($"kind" === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when($"kind" === "moved_in", 1L).otherwise(0L)).as("n_moved_in"),
        sum(when($"kind" === "moved_out", 1L).otherwise(0L)).as("n_moved_out"),
        sum(when($"kind" === "stable", 1L).otherwise(0L)).as("n_stable"))
    val overall = per.agg(sum($"n_added").as("n_added"),
        sum($"n_removed").as("n_removed"),
        sum($"n_moved_in").as("n_moved_in"),
        sum($"n_moved_out").as("n_moved_out"),
        sum($"n_stable").as("n_stable"))
      .select(lit(-1L).as("cid"), $"n_added", $"n_removed",
        $"n_moved_in", $"n_moved_out", $"n_stable")
    per.unionByName(overall).orderBy($"cid")
  }

  /** The index's compaction plan (the fold and its tail are
    * [[GenStore.compact]]'s): affected cells = those holding a
    * tombstoned vector or more than one generation; their survivors are
    * written as ONE fresh internal generation in ONE Spark pass (cell
    * filter + tombstone id mask), every other cell's files are left
    * byte-untouched.
    * The report is per cell: (cid, n_before, n_removed, n_gens_before,
    * n_after, compacted). Scale: the decision scan reads only (vec_id,
    * gen) + the cid partition column (postings' payload bytes
    * untouched); the rewrite reads and writes exactly the affected
    * cells' bytes — compaction cost tracks delete/ingest volume, not
    * corpus size.
    *
    * Layout-agnostic: the rewrite carries whatever payload columns the
    * store holds (full vectors, packed PQ codes, a label level) and
    * re-partitions by the store's own partition scheme, so the same
    * compaction serves the plain, labeled, and PQ-compressed stores.
    */
  protected def plan(s: SparkSession, dir: String, snap: Snapshot,
      counted: DataFrame, dead: Set[Long]): (DataFrame, Set[Long]) = {
    import s.implicits._
    val report = logical(counted).groupBy($"cid")
      .agg(count(lit(1)).as("n_before"),
        sum($"vec_id".isInCollection(dead).cast("long")).as("n_removed"),
        countDistinct($"gen").as("n_gens_before"))
      .withColumn("n_after", $"n_before" - $"n_removed")
      .withColumn("compacted",
        when($"n_removed" > 0 || $"n_gens_before" > 1, 1L).otherwise(0L))
      .select($"cid", $"n_before", $"n_removed", $"n_gens_before",
        $"n_after", $"compacted")
      .orderBy($"cid")
      .localCheckpoint(true)
    (report, report.filter($"compacted" === 1L)
      .select($"cid".cast("long")).as[Long].collect().toSet)
  }

  /** Rewrite the affected cells' live postings as generation `gen`. */
  protected def fold(s: SparkSession, dir: String, snap: Snapshot,
      counted: DataFrame, cells: Set[Long], masked: DataFrame => DataFrame,
      gen: Long): Set[Long] =
    writePostings(masked(counted.filter(col("cid").isin(cells.toSeq: _*))),
      dir, layoutOf(s, dir, snap), gen, byCell = true)

  /** Per-cell occupancy over every committed generation (see
    * [[addBatch]]). n_base counts logical generation 0 (the build plus
    * anything compaction/splits folded); n_added counts live ingest
    * generations.
    */
  def splitReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = postings(s, dir).groupBy($"cid")
      .agg(sum(when($"gen" === 0L, 1L).otherwise(0L)).as("n_base"),
        sum(when($"gen" =!= 0L, 1L).otherwise(0L)).as("n_added"),
        count(lit(1)).as("n_total"))
    val total = counts.agg(sum($"n_total").as("total"))
    centroids(s, dir).select($"cid".cast("long").as("cid"))
      .join(counts, Seq("cid"), "left")
      .select($"cid",
        coalesce($"n_base", lit(0L)).as("n_base"),
        coalesce($"n_added", lit(0L)).as("n_added"),
        coalesce($"n_total", lit(0L)).as("n_total"))
      .crossJoin(broadcast(total))
      .select($"cid", $"n_base", $"n_added", $"n_total",
        when($"n_total" * 8 > $"total", 1L).otherwise(0L).as("needs_split"))
      .orderBy($"cid")
  }

  /** Per-entry scratch index dirs: FIXED per (process, entry) — stable
    * across repeated runs in one JVM (benchmark sweeps, Verify; re-runs
    * overwrite via build's directory wipe, no accumulation) but
    * distinct across concurrent processes ([[Scratch]]).
    */
  private def scratch(name: String): String =
    Scratch.dir(org.apache.spark.sql.SparkSession.active,
      s"ivf_index/$name")

  /** Build → persist → serve, end-to-end through the parquet roundtrip.
    * Result rows are q147's serve joined with each neighbor cell's
    * stored posting count; the oracle replays training + serving
    * relationally, so a hash match proves the store/load cycle is
    * lossless.
    */
  private def q152(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q152")
    build(emb, dir)
    serve(s, dir, emb.filter($"vec_id" % 100 === 0))
  }

  /** Build on the base corpus (vec_id % 5 != 0), then incrementally
    * ingest the remaining fifth against the STORED index — no retrain —
    * and report per-cell occupancy + re-split flags. The oracle replays
    * the base training, the incremental assignment, and the flag rule.
    */
  private def q153(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q153")
    build(emb.filter($"vec_id" % 5 =!= 0), dir)
    addBatch(s, dir, emb.filter($"vec_id" % 5 === 0))
  }

  /** Filtered vector search end-to-end: labeled build → (cid, label)-
    * partitioned store → same-label top-5 for every 100th vector as the
    * query batch. Pre-filter semantics: each query ranks ONLY its own
    * label's vectors inside its 2 probed cells. The oracle replays
    * training, labeled assignment, and the filtered serve relationally.
    */
  private def q156(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantizedLabeled(s, d)
    val dir = scratch("q156")
    buildLabeled(emb, dir)
    serveLabeled(s, dir, emb.filter($"vec_id" % 100 === 0))
  }

  /** The full mutable-index lifecycle in one entry: build on the base
    * corpus (vec_id % 5 != 0), ingest the held-out fifth as generation
    * 1, tombstone-delete every 7th vector, COMPACT (deletes applied
    * physically, generations folded, only affected cells' bytes
    * rewritten under the manifest swap), then serve from the compacted
    * store. The oracle replays training, the incremental assignment,
    * and the delete set relationally — a hash match proves the stored
    * index survived delete + ingest + compaction with contents exactly
    * equal to "the corpus minus the deletes", cell sizes included.
    */
  private def q157(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q157")
    build(emb.filter($"vec_id" % 5 =!= 0), dir)
    addBatch(s, dir, emb.filter($"vec_id" % 5 === 0))
    delete(s, dir, emb.filter($"vec_id" % 7 === 0).select($"vec_id"))
    compact(s, dir)
    serve(s, dir, emb.filter($"vec_id" % 100 === 0 && $"vec_id" % 7 =!= 0))
  }

  /** Recall@5 of the MUTATED index — the q125 index-quality gate re-run
    * after the full q157 lifecycle (incremental ingest + tombstone
    * delete + compaction), which is exactly where an index quietly
    * rots: a correct build says nothing about the store after
    * maintenance has rewritten cells. Per query: how many of the exact
    * int64-L2 top-5 over the LIVE corpus (post-delete, self excluded)
    * the 2-probe serve from the compacted store returns, plus the
    * overall row (query_id = -1) — integer-exact set intersection, no
    * similarity tolerance (q125's discipline). The oracle replays the
    * training, the ingest assignment, the delete set, the probed serve,
    * AND the exact top-5 relationally.
    *
    * Scale: the serve side is the probe-pruned store scan; the exact
    * side is the evaluation harness's brute force, bounded by
    * |sampled queries| × corpus (the sample rate — every 100th vector —
    * is the knob), and the recall join ends at |queries|·k rows.
    */
  private def q158(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q158")
    build(emb.filter($"vec_id" % 5 =!= 0), dir)
    addBatch(s, dir, emb.filter($"vec_id" % 5 === 0))
    delete(s, dir, emb.filter($"vec_id" % 7 === 0).select($"vec_id"))
    compact(s, dir)
    val live = emb.filter($"vec_id" % 7 =!= 0)
    val queries = live.filter($"vec_id" % 100 === 0)
    val iv = serve(s, dir, queries).select($"query_id", $"neighbor")
    // exact side: the SHARED session ground truth ([[VectorOps.exactTop]]
    // "live" — same population as q162's), top-5 prefix of the cached
    // top-20; the |queries| × corpus brute force runs once per session
    val ex = VectorOps.exactTop(s, d, "live").filter($"rank" <= 5)
      .select($"query_id", $"neighbor")
    val matches = ex.join(iv, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("nm"))
    val per = ex.groupBy($"query_id").agg(count(lit(1)).as("k"))
      .join(matches, Seq("query_id"), "left")
      .select($"query_id", $"k", coalesce($"nm", lit(0L)).as("n_match"))
    val overall = per.agg(sum($"k").as("k"), sum($"n_match").as("n_match"))
      .select(lit(-1L).as("query_id"), $"k", $"n_match")
    per.unionByName(overall)
      .withColumn("recall_permille", expr("n_match * 1000 div k"))
      .orderBy($"query_id")
  }

  /** The COMPRESSED index end-to-end: PQ build → (cid, gen)-partitioned
    * single-long postings → 2-probe ADC top-5 for every 100th vector.
    * The oracle replays the coarse training, the per-subspace encoding
    * (q90's scheme), the probed routing, and the asymmetric ranking —
    * all integer-exact, so the hash match proves the packed-code
    * roundtrip and the literal-codebook reconstruction are lossless.
    */
  private def q159(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q159")
    buildPq(emb, dir)
    servePq(s, dir, emb.filter($"vec_id" % 100 === 0))
  }

  /** The compressed store through its FULL mutable lifecycle — q157's
    * sequence (build on the base corpus, ingest the held-out fifth,
    * tombstone every 7th vector, compact, serve) over the 8-byte PQ
    * postings. The oracle replays coarse training on the base, the
    * incremental assignment, the per-subspace encoding of BOTH
    * populations against the base-trained codebook, the delete set, and
    * the probed ADC ranking — a hash match proves the packed codes
    * survive ingest + delete + layout-agnostic compaction bit-exactly.
    */
  private def q160(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q160")
    buildPq(emb.filter($"vec_id" % 5 =!= 0), dir)
    addBatchPq(s, dir, emb.filter($"vec_id" % 5 === 0))
    delete(s, dir, emb.filter($"vec_id" % 7 === 0).select($"vec_id"))
    compact(s, dir)
    servePq(s, dir, emb.filter($"vec_id" % 100 === 0 && $"vec_id" % 7 =!= 0))
  }

  /** What does the 64× compression COST in answer quality, and how much
    * does the refine stage buy back? Per query (every 100th vector):
    * recall@5 against the exact int64-L2 top-5 (self excluded) of (a)
    * the pure ADC serve and (b) the ADC-shortlist-25 + exact re-rank
    * serve ([[servePqRefine]]), plus the overall row (query_id = -1) —
    * integer-exact set intersections, no similarity tolerance. The
    * oracle replays the coarse training, the PQ encoding, the ADC
    * ranking AND shortlist, the full-precision re-rank, and the exact
    * top-5, so a hash match pins the entire two-stage serving path, not
    * just its first stage. Refined recall is >= ADC recall by
    * construction only per-hit-count — the spec asserts the >= holds
    * on real data; the gate records the actual numbers.
    *
    * Scale: both serve stages are bounded as their operators document;
    * the exact side is the evaluation harness's brute force, folded
    * map-side by the bounded top-k aggregator (q158's discipline).
    */
  private def q161(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q161")
    buildPq(emb, dir)
    val queries = emb.filter($"vec_id" % 100 === 0)
    // ONE ADC serve feeds both stages: the stage-1 top-5 is the
    // shortlist's rank<=5 prefix (identical window), so serving twice
    // would repeat the probed-cell scan for nothing. |queries|×25 rows —
    // checkpoint, don't recompute.
    val short25 = servePq(s, dir, queries, probes = 2, k = 25)
      .select($"query_id", $"rank", $"neighbor").localCheckpoint(true)
    val adc5 = short25.filter($"rank" <= 5)
      .select($"query_id", $"neighbor")
    val ref5 = refineShortlist(s, queries, emb,
        short25.select($"query_id", $"neighbor"), 5)
      .select($"query_id", $"neighbor")
    // exact side: shared session ground truth (top-5 prefix of "full")
    val ex = VectorOps.exactTop(s, d, "full").filter($"rank" <= 5)
      .select($"query_id", $"neighbor")
    val mAdc = ex.join(adc5, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("na"))
    val mRef = ex.join(ref5, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("nr"))
    val per = ex.groupBy($"query_id").agg(count(lit(1)).as("k"))
      .join(mAdc, Seq("query_id"), "left")
      .join(mRef, Seq("query_id"), "left")
      .select($"query_id", $"k", coalesce($"na", lit(0L)).as("n_adc"),
        coalesce($"nr", lit(0L)).as("n_refine"))
    val overall = per.agg(sum($"k").as("k"), sum($"n_adc").as("n_adc"),
        sum($"n_refine").as("n_refine"))
      .select(lit(-1L).as("query_id"), $"k", $"n_adc", $"n_refine")
    per.unionByName(overall)
      .withColumn("adc_permille", expr("n_adc * 1000 div k"))
      .withColumn("refine_permille", expr("n_refine * 1000 div k"))
      .orderBy($"query_id")
  }

  /** The recall matrix's last cell: [[q158]] scores the UNCOMPRESSED
    * store after mutation, [[q161]] the PQ store when freshly built —
    * this entry scores the PQ store after its FULL q160 lifecycle
    * (ingest the held-out fifth, tombstone every 7th vector, compact),
    * where BOTH error sources compound: ingested vectors were encoded
    * against the base-trained codebook, and compaction has rewritten
    * the affected cells' 8-byte postings. Per live query: recall@5 of
    * the ADC serve and of the shortlist-25 + exact re-rank
    * ([[servePqRefine]] against the post-delete corpus — the refine
    * lookup store in a deployment also has deletes applied) vs the
    * exact int64-L2 top-5 over the live corpus; overall row at
    * query_id = -1. The oracle replays coarse training on the base
    * population, the incremental assignment, the gap-aware dense-ranked
    * codebook, the encoding of BOTH populations, the delete set, the
    * ADC shortlist, the re-rank, and the exact ranking.
    */
  private def q162(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q162")
    buildPq(emb.filter($"vec_id" % 5 =!= 0), dir)
    addBatchPq(s, dir, emb.filter($"vec_id" % 5 === 0))
    delete(s, dir, emb.filter($"vec_id" % 7 === 0).select($"vec_id"))
    compact(s, dir)
    val live = emb.filter($"vec_id" % 7 =!= 0)
    val queries = live.filter($"vec_id" % 100 === 0)
    // one ADC serve for both stages — see q161
    val short25 = servePq(s, dir, queries, probes = 2, k = 25)
      .select($"query_id", $"rank", $"neighbor").localCheckpoint(true)
    val adc5 = short25.filter($"rank" <= 5)
      .select($"query_id", $"neighbor")
    val ref5 = refineShortlist(s, queries, live,
        short25.select($"query_id", $"neighbor"), 5)
      .select($"query_id", $"neighbor")
    // exact side: shared session ground truth (top-5 prefix of "live",
    // the SAME brute force q158 gates against — computed once)
    val ex = VectorOps.exactTop(s, d, "live").filter($"rank" <= 5)
      .select($"query_id", $"neighbor")
    val mAdc = ex.join(adc5, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("na"))
    val mRef = ex.join(ref5, Seq("query_id", "neighbor"), "left_semi")
      .groupBy($"query_id").agg(count(lit(1)).as("nr"))
    val per = ex.groupBy($"query_id").agg(count(lit(1)).as("k"))
      .join(mAdc, Seq("query_id"), "left")
      .join(mRef, Seq("query_id"), "left")
      .select($"query_id", $"k", coalesce($"na", lit(0L)).as("n_adc"),
        coalesce($"nr", lit(0L)).as("n_refine"))
    val overall = per.agg(sum($"k").as("k"), sum($"n_adc").as("n_adc"),
        sum($"n_refine").as("n_refine"))
      .select(lit(-1L).as("query_id"), $"k", $"n_adc", $"n_refine")
    per.unionByName(overall)
      .withColumn("adc_permille", expr("n_adc * 1000 div k"))
      .withColumn("refine_permille", expr("n_refine * 1000 div k"))
      .orderBy($"query_id")
  }

  /** Snapshot TIME TRAVEL through the manifest protocol: build the base
    * index (epoch 1), then run the full mutation lifecycle against it —
    * incremental ingest (epoch 2), tombstone delete (epoch 3, now a
    * committed manifest so the mask is snapshot-scoped), compaction
    * (epoch 4) — under a widened retention window, and serve the SAME
    * query batch from BOTH states: `asof_build` via [[serveAt]] epoch 1
    * (must be bit-identical to what the base-only index served before
    * any mutation existed — including cell sizes, and NOT seeing the
    * later deletes) and `live` via the latest snapshot. This is the
    * reproduce-last-week's-retrieval / A/B-across-reindex capability;
    * an epoch is one manifest file over immutable directories, so the
    * historical read costs only the retained files. The oracle replays
    * both states relationally — base-only training+serve for the asof
    * stage, the full ingest∪base minus deletes for the live stage.
    */
  private def q164(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q164")
    IndexManifest.withRetention(s, 8) {
      build(emb.filter($"vec_id" % 5 =!= 0), dir)
      addBatch(s, dir, emb.filter($"vec_id" % 5 === 0))
      delete(s, dir, emb.filter($"vec_id" % 7 === 0).select($"vec_id"))
      compact(s, dir)
      val queries = emb.filter($"vec_id" % 100 === 0)
      val asOf = serveAt(s, dir, 1L, queries)
        .withColumn("stage", lit("asof_build"))
      val live = serve(s, dir, queries).withColumn("stage", lit("live"))
      asOf.unionByName(live)
        .select($"stage", $"query_id", $"rank", $"neighbor", $"dist",
          $"cell_size")
        .orderBy($"stage", $"query_id", $"rank")
    }
  }

  /** Store CLONE correctness gate: build the base index (epoch 1),
    * ingest the held-out fifth (epoch 2), tombstone-delete every 7th
    * vector (epoch 3) — then [[cloneAt]] the PRE-DELETE epoch 2 into a
    * fresh directory and serve the query batch from the CLONE. The
    * hash proves the clone is exactly the epoch-2 logical state: it
    * contains base ∪ ingest with the original assignments (no
    * re-training, no re-assignment) and does NOT see the later delete
    * — the rollback a deployment runs when a mutation batch turns out
    * bad. The oracle replays training, the incremental assignment, and
    * the 2-probe serve over the union, deletes nowhere in sight.
    * CloneStoreSpec drives the adversarial side (source GC'd/vacuumed
    * after the clone, clone mutated independently, PQ clone).
    */
  private def q179(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q179")
    val dir2 = scratch("q179_clone")
    IndexManifest.withRetention(s, 8) {
      build(emb.filter($"vec_id" % 5 =!= 0), dir)
      addBatch(s, dir, emb.filter($"vec_id" % 5 === 0))
      delete(s, dir, emb.filter($"vec_id" % 7 === 0).select($"vec_id"))
      cloneAt(s, dir, 2L, dir2)
      serve(s, dir2, emb.filter($"vec_id" % 100 === 0))
        .select($"query_id", $"rank", $"neighbor", $"dist", $"cell_size")
        .orderBy($"query_id", $"rank")
    }
  }

  /** Filtered ANN on the COMPRESSED store end-to-end: labeled PQ build
    * → (cid, label, gen)-partitioned single-long postings → same-label
    * 2-probe ADC top-5 for every 100th vector. Completes the serving
    * matrix: q152/q156 are the uncompressed cells, q159 the unfiltered
    * PQ cell, this the filtered PQ cell. The oracle replays training,
    * labeled assignment, PQ encoding, and the label-filtered ADC
    * ranking — integer-exact throughout.
    */
  private def q165(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantizedLabeled(s, d)
    val dir = scratch("q165")
    buildPqLabeled(emb, dir)
    servePqLabeled(s, dir, emb.filter($"vec_id" % 100 === 0))
  }

  /** The reindex audit over the q164 lifecycle: build (epoch 1) →
    * ingest → delete → compact (epoch 4), then [[snapshotDiff]] between
    * the build and the live state. On this fixture: added = the
    * ingested fifth minus its deleted sevenths, removed = base ∩
    * deletes, stable = the rest, moved = 0 (no split ran — the spec
    * exercises the moved classification via splitCells). The oracle
    * replays both states' assignments and classifies the full-outer
    * match relationally.
    */
  private def q168(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q168")
    IndexManifest.withRetention(s, 8) {
      build(emb.filter($"vec_id" % 5 =!= 0), dir)
      addBatch(s, dir, emb.filter($"vec_id" % 5 === 0))
      delete(s, dir, emb.filter($"vec_id" % 7 === 0).select($"vec_id"))
      compact(s, dir)
      snapshotDiff(s, dir, 1L, readSnapshot(s, dir).epoch)
    }
  }

  /** RELEASE-TO-SERVING — the composition a training-data deployment
    * actually ships: q155's release admission (exact dedup → quality
    * window → span cleanup → per-language token budget) feeds the
    * ADMITTED documents' embeddings into a [[buildPq]] compressed
    * store, and the serving side is gated by recall (ADC and
    * shortlist-25 + exact re-rank, vs the exact int64-L2 top-5 over
    * the admitted corpus — q161's two-stage discipline on q155's
    * output). One long-format report: per-language stage accounting
    * (docs in → admitted → tokens admitted → vectors indexed) plus the
    * corpus-wide recall block (`lang = '*'`) — the per-stage ledger
    * next to the quality gate, which is what a release sign-off reads.
    *
    * The build corpus is budget-admitted, so its id space is sparse:
    * the index seeds on the 16 smallest ADMITTED ids
    * ([[buildPq]]'s `seedSmallest`), the oracle replays the same rule
    * (`ORDER BY vec_id LIMIT 16`).
    *
    * Scale: the release chain is q155's posture (nothing new moves);
    * the admitted relation is budget-bounded (|langs| × budget tokens
    * — constant in corpus size), so index build, serve, and the exact
    * recall side are all bounded by the RELEASE budget, not the
    * corpus: the one place a brute-force ground truth is the right
    * deployment call. Query batch = every 5th admitted id (bounded by
    * the admitted set); centroids/codebook/LUT ride broadcasts.
    */
  private def q172(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val budget = 3000L
    val st = PipelineOps.releaseStages(s, d, budget)
    val adm = st.kept.select($"lang", $"doc_id")
    val admEmb = VectorOps.quantized(s, d)
      .join(adm.select($"doc_id".as("vec_id")), "vec_id")
      .localCheckpoint(true)
    val dir = scratch("q172")
    buildPq(admEmb, dir, seedSmallest = true)
    val queries = admEmb.filter($"vec_id" % 5 === 0)
    // one ADC serve feeds both stages — q161's shared-shortlist rule
    val short25 = servePq(s, dir, queries, probes = 2, k = 25)
      .select($"query_id", $"rank", $"neighbor").localCheckpoint(true)
    val adc5 = short25.filter($"rank" <= 5)
      .select($"query_id", $"neighbor")
    val ref5 = refineShortlist(s, queries, admEmb,
        short25.select($"query_id", $"neighbor"), 5)
      .select($"query_id", $"neighbor")
    // exact ground truth over the ADMITTED corpus (budget-bounded, so
    // the brute force is release-budget-sized, not corpus-sized)
    val ex = admEmb.crossJoin(broadcast(queries
        .select($"vec_id".as("query_id"), $"qv".as("q_qv"))))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id".as("neighbor"),
        graft.functions.VectorMath.sqDistLong($"qv", $"q_qv").as("dist"))
      .groupBy($"query_id")
      .agg(graft.functions.BoundedAggs.topScored(
        -$"dist".cast("double"), $"neighbor", lit(true), 5).as("top"))
      .select($"query_id", explode($"top").as("t"))
      .select($"query_id", $"t.id".as("neighbor"))
      .localCheckpoint(true)
    val hits = ex.groupBy().agg(count(lit(1)).as("k_total"))
      .crossJoin(ex.join(adc5, Seq("query_id", "neighbor"), "left_semi")
        .groupBy().agg(count(lit(1)).as("adc_hits")))
      .crossJoin(ex.join(ref5, Seq("query_id", "neighbor"), "left_semi")
        .groupBy().agg(count(lit(1)).as("refine_hits")))
      .crossJoin(queries.groupBy().agg(count(lit(1)).as("n_queries")))
    def metricRow(name: String, v: Column): DataFrame =
      hits.select(lit(name).as("metric"), lit("*").as("lang"),
        v.cast("long").as("value"))
    val perLang =
      st.docs.groupBy($"lang").agg(count(lit(1)).as("value"))
        .select(lit("docs_in").as("metric"), $"lang", $"value")
      .unionByName(st.kept.groupBy($"lang")
        .agg(count(lit(1)).as("value"))
        .select(lit("docs_admitted").as("metric"), $"lang", $"value"))
      .unionByName(st.kept.groupBy($"lang")
        .agg(sum($"n_clean").as("value"))
        .select(lit("toks_admitted").as("metric"), $"lang", $"value"))
      .unionByName(adm.join(admEmb.select($"vec_id".as("doc_id")), "doc_id")
        .groupBy($"lang").agg(count(lit(1)).as("value"))
        .select(lit("vecs_indexed").as("metric"), $"lang", $"value"))
    perLang
      .unionByName(metricRow("n_queries", $"n_queries"))
      .unionByName(metricRow("k_total", $"k_total"))
      .unionByName(metricRow("adc_hits", $"adc_hits"))
      .unionByName(metricRow("refine_hits", $"refine_hits"))
      .unionByName(metricRow("adc_permille",
        expr("adc_hits * 1000 div k_total")))
      .unionByName(metricRow("refine_permille",
        expr("refine_hits * 1000 div k_total")))
      .orderBy($"metric", $"lang")
  }

  /** ANN OPERATING-POINT TABLE — recall vs probe cost on the stored PQ
    * index across the FIXED nprobe levels {1, 2, 4} AND the adaptive
    * router ([[adaptiveRule]], reported as nprobe 0): the tuning
    * table a deployment reads to pick its serving configuration. Per
    * level: probed posting MASS (the scan cost the router actually
    * pays, from the index's own live postings), recall@5 of the pure
    * ADC serve, of the shortlist-25 exact re-rank, of the SHORTLIST-100
    * re-rank, and the ROUTING CEILING (exact top-5 hits whose home cell
    * the query probed — what a perfect ranker over the probed cells
    * would score), all against [[VectorOps.exactTop]] "full".
    *
    * The two recall levers this table measures (sf0.1 sweep recorded
    * in BENCH_SF10.json `adaptive_probe_round12`): SHORTLIST WIDTH is
    * the big one — refine-100 recovers nearly the whole gap to the
    * routing ceiling at ZERO extra probed mass (nprobe 2: 370 → 470‰
    * vs ceiling 480; the round-11 "370 vs 400 ceiling" reading was a
    * shortlist-25 artifact, not a routing wall). ADAPTIVE ROUTING then
    * buys a further margin at mass parity (ratio 21/20: ceiling 490 and
    * refine-100 480 vs fixed-2's 480/470 at +0.2% mass) — small on this
    * near-isotropic synthetic corpus, whose centroid-distance margins
    * carry little signal, and exactly the lever that grows on clustered
    * real-world embeddings.
    *
    * Scale: four serves of the SAME store, each partition-pruned to
    * its probe set; the routing/mass/ceiling relations are
    * |queries| × nlists rows against broadcast metadata; the exact
    * side is the session-shared eval harness, computed once; the
    * re-ranks touch |queries| × 100 ids through one broadcast-filtered
    * corpus scan.
    */
  private def q173(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dir = scratch("q173")
    buildPq(emb, dir)
    val queries = emb.filter($"vec_id" % 100 === 0)
    val ex = VectorOps.exactTop(s, d, "full").filter($"rank" <= 5)
      .select($"query_id", $"neighbor").localCheckpoint(true)
    val exK = ex.groupBy().agg(count(lit(1)).as("k_total"))
    val snap = readSnapshot(s, dir)
    val cents = centroidsOf(s, dir, snap)
    val liveRows = live(s, dir, snap)
    val sizes = liveRows.groupBy($"cid").agg(count(lit(1)).as("csz"))
    val homes = liveRows.select($"vec_id".as("neighbor"), $"cid")
      .localCheckpoint(true)
    val scoredc = scoredCells(s, cents, queries)
      .join(broadcast(sizes), Seq("cid"))
      .select($"vec_id", $"cid", $"cdist", $"crank", $"cbest", $"csz")
      .localCheckpoint(true)
    def level(nprobe: Long, probedRel: DataFrame,
        short100: DataFrame): DataFrame = {
      val mass = probedRel.groupBy().agg(sum($"csz").as("probed_mass"))
      val s100 = short100.select($"query_id", $"rank", $"neighbor")
        .localCheckpoint(true)
      val adc5 = s100.filter($"rank" <= 5).select($"query_id", $"neighbor")
      val ref25 = refineShortlist(s, queries, emb,
          s100.filter($"rank" <= 25).select($"query_id", $"neighbor"), 5)
        .select($"query_id", $"neighbor")
      val ref100 = refineShortlist(s, queries, emb,
          s100.select($"query_id", $"neighbor"), 5)
        .select($"query_id", $"neighbor")
      val ceil = ex.join(homes, Seq("neighbor"))
        .join(probedRel.select($"vec_id".as("query_id"), $"cid"),
          Seq("query_id", "cid"), "left_semi")
      mass.crossJoin(exK)
        .crossJoin(ex.join(adc5, Seq("query_id", "neighbor"), "left_semi")
          .groupBy().agg(count(lit(1)).as("adc_hits")))
        .crossJoin(ex.join(ref25, Seq("query_id", "neighbor"), "left_semi")
          .groupBy().agg(count(lit(1)).as("refine_hits")))
        .crossJoin(ex.join(ref100, Seq("query_id", "neighbor"), "left_semi")
          .groupBy().agg(count(lit(1)).as("refine_wide_hits")))
        .crossJoin(ceil.groupBy().agg(count(lit(1)).as("ceiling_hits")))
        .select(lit(nprobe).as("nprobe"), $"probed_mass", $"k_total",
          $"adc_hits", $"refine_hits", $"refine_wide_hits",
          $"ceiling_hits",
          expr("adc_hits * 1000 div k_total").as("adc_permille"),
          expr("refine_hits * 1000 div k_total").as("refine_permille"),
          expr("refine_wide_hits * 1000 div k_total")
            .as("refine_wide_permille"),
          expr("ceiling_hits * 1000 div k_total").as("ceiling_permille"))
    }
    val fixed = Seq(1, 2, 4).map { p =>
      level(p.toLong, scoredc.filter($"crank" <= p),
        servePq(s, dir, queries, probes = p, k = 100))
    }
    val adaptive = level(0L,
      scoredc.filter(adaptiveRule(AdaptRatioNum, AdaptRatioDen,
        AdaptMaxProbes)),
      serveSnap(s, dir, snap, PqPlain, queries, adaptiveRule(AdaptRatioNum,
        AdaptRatioDen, AdaptMaxProbes), 100))
    (fixed :+ adaptive).reduce(_ unionByName _).orderBy($"nprobe")
  }

  /** SHARD MERGE end-to-end: two independent raw stores (A on the even
    * ids, B on the odd ids — the per-shard builds of a partitioned
    * index job), B takes a delete (every 7th odd id tombstoned), then
    * [[mergeFrom]] folds B's LIVE postings into A and the merged store
    * serves a mixed-parity query batch. The oracle replays A's
    * training, the re-assignment of B's post-delete population to A's
    * centroids, and the serve over the union — a hash match proves the
    * merge moved exactly the live rows, re-homed them correctly, and
    * left them servable next to A's natives (including the merged
    * cell-occupancy column, so the ingest accounting is pinned too).
    */
  private def q175(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val emb = VectorOps.quantized(s, d)
    val dirA = scratch("q175a")
    val dirB = scratch("q175b")
    build(emb.filter($"vec_id" % 2 === 0), dirA)
    build(emb.filter($"vec_id" % 2 === 1), dirB)
    delete(s, dirB, emb.filter($"vec_id" % 2 === 1 && $"vec_id" % 7 === 0)
      .select($"vec_id"))
    mergeFrom(s, dirA, dirB, gen = 1L)
    serve(s, dirA, emb.filter($"vec_id" % 75 === 0))
  }

  def defs: Map[String, Q] = Map(
    "q152_ivf_index_serve" -> ((s, d) => q152(s, d)),
    "q153_ivf_incremental" -> ((s, d) => q153(s, d)),
    "q156_filtered_ann" -> ((s, d) => q156(s, d)),
    "q157_ivf_delete_compact" -> ((s, d) => q157(s, d)),
    "q158_mutated_recall" -> ((s, d) => q158(s, d)),
    "q159_ivfpq_store" -> ((s, d) => q159(s, d)),
    "q160_ivfpq_lifecycle" -> ((s, d) => q160(s, d)),
    "q161_pq_refine_recall" -> ((s, d) => q161(s, d)),
    "q162_pq_mutated_recall" -> ((s, d) => q162(s, d)),
    "q164_index_time_travel" -> ((s, d) => q164(s, d)),
    "q179_store_clone" -> ((s, d) => q179(s, d)),
    "q165_filtered_pq_ann" -> ((s, d) => q165(s, d)),
    "q168_snapshot_diff" -> ((s, d) => q168(s, d)),
    "q172_release_to_serving" -> ((s, d) => q172(s, d)),
    "q173_ann_tuning_curve" -> ((s, d) => q173(s, d)),
    "q175_index_merge" -> ((s, d) => q175(s, d))
  )

  private def q152OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(
           VectorOps.LloydMaxIters, VectorOps.LloydMinImprove)},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         cellsz AS (
           SELECT cid, CAST(count(*) AS BIGINT) AS cell_size
           FROM astar GROUP BY 1),
         qs AS (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT q.vec_id, q.qv, c.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(list_zip(q.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM q, cstar c WHERE q.vec_id % 100 = 0) WHERE rn <= 2),
         cand AS (
           SELECT qs.query_id, astar.vec_id AS neighbor, astar.cid,
             CAST(list_sum(list_transform(list_zip(aq.qv, qs.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM astar JOIN q aq USING (vec_id) JOIN qs ON astar.cid = qs.cid
           WHERE astar.vec_id <> qs.query_id),
         ranked AS (
           SELECT query_id, neighbor, cid, dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor) AS BIGINT) AS rank
           FROM cand)
         SELECT query_id, rank, neighbor, dist, cell_size
         FROM ranked JOIN cellsz USING (cid)
         WHERE rank <= 5 ORDER BY query_id, rank"""

  private def q153OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(VectorOps.LloydMaxIters,
           VectorOps.LloydMinImprove, "WHERE vec_id % 5 <> 0")},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         nd AS (
           SELECT a.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, cstar c WHERE a.vec_id % 5 = 0),
         anew AS (
           SELECT vec_id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS rn FROM nd) WHERE rn = 1),
         basec AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_base
                   FROM astar GROUP BY 1),
         addc AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_added
                  FROM anew GROUP BY 1),
         rep AS (
           SELECT c.cid, coalesce(b.n_base, 0) AS n_base,
             coalesce(a.n_added, 0) AS n_added,
             coalesce(b.n_base, 0) + coalesce(a.n_added, 0) AS n_total
           FROM cstar c LEFT JOIN basec b USING (cid)
             LEFT JOIN addc a USING (cid)),
         tot AS (SELECT CAST(sum(n_total) AS BIGINT) AS total FROM rep)
         SELECT cid, n_base, n_added, n_total,
           CAST(CASE WHEN n_total * 8 > total THEN 1 ELSE 0 END
             AS BIGINT) AS needs_split
         FROM rep, tot ORDER BY cid"""

  private def q156OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(
           VectorOps.LloydMaxIters, VectorOps.LloydMinImprove)},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                 FROM embeddings),
         qs AS (
           SELECT vec_id AS query_id, qv, label, cid FROM (
             SELECT q.vec_id, q.qv, l.label, c.cid,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 list_sum(list_transform(list_zip(q.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM q JOIN lab l USING (vec_id), cstar c
             WHERE q.vec_id % 100 = 0) WHERE rn <= 2),
         cand AS (
           SELECT qs.query_id, qs.label, astar.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(aq.qv, qs.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM astar JOIN q aq USING (vec_id) JOIN lab nl USING (vec_id)
             JOIN qs ON astar.cid = qs.cid AND nl.label = qs.label
           WHERE astar.vec_id <> qs.query_id),
         ranked AS (
           SELECT query_id, label, neighbor, dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor) AS BIGINT) AS rank
           FROM cand)
         SELECT query_id, label, neighbor, dist, rank FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""

  private def q157OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(VectorOps.LloydMaxIters,
           VectorOps.LloydMinImprove, "WHERE vec_id % 5 <> 0")},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         nd AS (
           SELECT a.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, cstar c WHERE a.vec_id % 5 = 0),
         anew AS (
           SELECT vec_id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS rn FROM nd) WHERE rn = 1),
         comb AS MATERIALIZED (
           SELECT vec_id, cid FROM astar WHERE vec_id % 7 <> 0
           UNION ALL
           SELECT vec_id, cid FROM anew WHERE vec_id % 7 <> 0),
         cellsz AS (
           SELECT cid, CAST(count(*) AS BIGINT) AS cell_size
           FROM comb GROUP BY 1),
         qs AS (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT a.vec_id, a.qv, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM allq a, cstar c
             WHERE a.vec_id % 100 = 0 AND a.vec_id % 7 <> 0) WHERE rn <= 2),
         cand AS (
           SELECT qs.query_id, cb.vec_id AS neighbor, cb.cid,
             CAST(list_sum(list_transform(list_zip(aq.qv, qs.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM comb cb JOIN allq aq USING (vec_id)
             JOIN qs ON cb.cid = qs.cid
           WHERE cb.vec_id <> qs.query_id),
         ranked AS (
           SELECT query_id, neighbor, cid, dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor) AS BIGINT) AS rank
           FROM cand)
         SELECT query_id, rank, neighbor, dist, cell_size
         FROM ranked JOIN cellsz USING (cid)
         WHERE rank <= 5 ORDER BY query_id, rank"""

  private def q158OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(VectorOps.LloydMaxIters,
           VectorOps.LloydMinImprove, "WHERE vec_id % 5 <> 0")},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         nd AS (
           SELECT a.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, cstar c WHERE a.vec_id % 5 = 0),
         anew AS (
           SELECT vec_id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS rn FROM nd) WHERE rn = 1),
         comb AS MATERIALIZED (
           SELECT vec_id, cid FROM astar WHERE vec_id % 7 <> 0
           UNION ALL
           SELECT vec_id, cid FROM anew WHERE vec_id % 7 <> 0),
         qs AS (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT a.vec_id, a.qv, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM allq a, cstar c
             WHERE a.vec_id % 100 = 0 AND a.vec_id % 7 <> 0) WHERE rn <= 2),
         ivcand AS (
           SELECT qs.query_id, cb.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(aq.qv, qs.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM comb cb JOIN allq aq USING (vec_id)
             JOIN qs ON cb.cid = qs.cid
           WHERE cb.vec_id <> qs.query_id),
         iv AS (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS rank
             FROM ivcand) WHERE rank <= 5),
         exq AS (SELECT vec_id AS query_id, qv FROM allq
                 WHERE vec_id % 100 = 0 AND vec_id % 7 <> 0),
         excand AS (
           SELECT exq.query_id, a.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(a.qv, exq.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, exq
           WHERE a.vec_id % 7 <> 0 AND a.vec_id <> exq.query_id),
         ex AS MATERIALIZED (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS rank
             FROM excand) WHERE rank <= 5),
         matches AS (
           SELECT ex.query_id, CAST(count(*) AS BIGINT) AS nm
           FROM ex JOIN iv USING (query_id, neighbor) GROUP BY 1),
         per AS MATERIALIZED (
           SELECT e.query_id, CAST(count(*) AS BIGINT) AS k,
             coalesce(any_value(m.nm), 0) AS n_match
           FROM ex e LEFT JOIN matches m ON e.query_id = m.query_id
           GROUP BY 1),
         perall AS (
           SELECT query_id, k, n_match FROM per
           UNION ALL
           SELECT CAST(-1 AS BIGINT), CAST(sum(k) AS BIGINT),
             CAST(sum(n_match) AS BIGINT) FROM per)
         SELECT query_id, k, n_match,
           n_match * 1000 // k AS recall_permille
         FROM perall ORDER BY query_id"""

  /** DuckDB replay of [[trainPqCodebook]]: residuals of the TRAINING
    * population (astar ⋈ q ⋈ cstar — `q` is the build corpus the
    * surrounding lloydCtes defined), exploded to subspace slices,
    * seeded from the dense-ranked vec_id < 16 slices, then
    * [[PqTrainIters]] unrolled argmin + floor-mean rounds, memberless
    * codes keeping their previous vector. Produces `pcb<PqTrainIters>`,
    * the trained codebook. Requires lloydCtes + lloydStarCtes in scope.
    */
  private def pqTrainCtes(seedWhere: String = "vec_id < 16"): String = {
    val sb = new StringBuilder
    sb ++= s"""pres AS MATERIALIZED (
           SELECT a.vec_id,
             list_transform(list_zip(v.qv, c.cq), z -> z[1] - z[2]) AS rv
           FROM astar a JOIN q v USING (vec_id) JOIN cstar c USING (cid)),
         psub AS MATERIALIZED (
           SELECT vec_id, m, rv[(m*8+1):(m*8+8)] AS sv
           FROM pres, generate_series(0, 7) AS t(m)),
         pcb0 AS MATERIALIZED (
           SELECT m, CAST(row_number() OVER (PARTITION BY m
             ORDER BY vec_id) - 1 AS INT) AS c, sv AS cvec
           FROM psub WHERE $seedWhere)"""
    for (r <- 0 until PqTrainIters) {
      sb ++= s""",
         pa$r AS MATERIALIZED (
           SELECT vec_id, m, c, sv FROM (
             SELECT s.vec_id, s.m, cb.c, s.sv,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 list_sum(list_transform(list_zip(s.sv, cb.cvec),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), cb.c) AS rn
             FROM psub s JOIN pcb$r cb ON s.m = cb.m) WHERE rn = 1),
         pup$r AS (
           SELECT m, c,
             list(CAST(floor(CAST(sdim AS DOUBLE) / nv) AS BIGINT)
               ORDER BY i) AS cvec
           FROM (SELECT a.m, a.c, t.i, sum(a.sv[t.i]) AS sdim,
                   count(*) AS nv
                 FROM pa$r a, generate_series(1, 8) AS t(i)
                 GROUP BY 1, 2, 3)
           GROUP BY m, c),
         pcb${r + 1} AS MATERIALIZED (
           SELECT cb.m, cb.c, coalesce(u.cvec, cb.cvec) AS cvec
           FROM pcb$r cb LEFT JOIN pup$r u
             ON cb.m = u.m AND cb.c = u.c)"""
    }
    sb.result()
  }

  /** DuckDB replay of the residual ENCODE + reconstruction for a
    * population CTE `pop` (vec_id, cid): codes against the trained
    * codebook, reconstructed residual per vector. Produces `precon`
    * (vec_id, rv). Requires pqTrainCtes + allq + cstar in scope.
    */
  private def pqEncodeCtes(pop: String): String =
    s"""eres AS MATERIALIZED (
           SELECT pp.vec_id, pp.cid,
             list_transform(list_zip(v.qv, c.cq), z -> z[1] - z[2]) AS rv
           FROM $pop pp JOIN allq v USING (vec_id) JOIN cstar c USING (cid)),
         esub AS (
           SELECT vec_id, m, rv[(m*8+1):(m*8+8)] AS sv
           FROM eres, generate_series(0, 7) AS t(m)),
         pcode AS MATERIALIZED (
           SELECT vec_id, m, c FROM (
             SELECT s.vec_id, s.m, cb.c,
               row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                 list_sum(list_transform(list_zip(s.sv, cb.cvec),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), cb.c) AS rn
             FROM esub s JOIN pcb$PqTrainIters cb ON s.m = cb.m)
           WHERE rn = 1),
         precon AS MATERIALIZED (
           SELECT pc.vec_id, flatten(list(cb.cvec ORDER BY pc.m)) AS rv
           FROM pcode pc JOIN pcb$PqTrainIters cb
             ON pc.m = cb.m AND pc.c = cb.c
           GROUP BY 1)"""

  /** The query-residual relation: each probed (query, cell) pair's
    * query residual vs THAT cell's centroid — the LUT side of the ADC
    * split. Requires a `qs` CTE (query_id, qv, cid[, ...]) + cstar.
    */
  private def pqQueryResCtes(extraCols: String = ""): String =
    s"""qsr AS (
           SELECT qs.query_id, qs.cid$extraCols,
             list_transform(list_zip(qs.qv, c.cq),
               z -> z[1] - z[2]) AS qrv
           FROM qs JOIN cstar c USING (cid))"""

  private def q159OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(
           VectorOps.LloydMaxIters, VectorOps.LloydMinImprove)},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         ${pqTrainCtes()},
         ${pqEncodeCtes("astar")},
         qs AS (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT a.vec_id, a.qv, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM allq a, cstar c WHERE a.vec_id % 100 = 0) WHERE rn <= 2),
         ${pqQueryResCtes()},
         cand AS (
           SELECT qsr.query_id, astar.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(r.rv, qsr.qrv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adc
           FROM astar JOIN precon r USING (vec_id)
             JOIN qsr ON astar.cid = qsr.cid
           WHERE astar.vec_id <> qsr.query_id),
         ranked AS (
           SELECT query_id, neighbor, adc,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adc, neighbor) AS BIGINT) AS rank
           FROM cand)
         SELECT query_id, rank, neighbor, adc FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""

  private def q160OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(VectorOps.LloydMaxIters,
           VectorOps.LloydMinImprove, "WHERE vec_id % 5 <> 0")},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         nd AS (
           SELECT a.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, cstar c WHERE a.vec_id % 5 = 0),
         anew AS (
           SELECT vec_id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS rn FROM nd) WHERE rn = 1),
         comb AS MATERIALIZED (
           SELECT vec_id, cid FROM astar WHERE vec_id % 7 <> 0
           UNION ALL
           SELECT vec_id, cid FROM anew WHERE vec_id % 7 <> 0),
         ${pqTrainCtes()},
         ${pqEncodeCtes("comb")},
         qs AS (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT a.vec_id, a.qv, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM allq a, cstar c
             WHERE a.vec_id % 100 = 0 AND a.vec_id % 7 <> 0) WHERE rn <= 2),
         ${pqQueryResCtes()},
         cand AS (
           SELECT qsr.query_id, cmb.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(r.rv, qsr.qrv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adc
           FROM comb cmb JOIN precon r USING (vec_id)
             JOIN qsr ON cmb.cid = qsr.cid
           WHERE cmb.vec_id <> qsr.query_id),
         ranked AS (
           SELECT query_id, neighbor, adc,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adc, neighbor) AS BIGINT) AS rank
           FROM cand)
         SELECT query_id, rank, neighbor, adc FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""

  private def q161OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(
           VectorOps.LloydMaxIters, VectorOps.LloydMinImprove)},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         ${pqTrainCtes()},
         ${pqEncodeCtes("astar")},
         qs AS (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT a.vec_id, a.qv, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM allq a, cstar c WHERE a.vec_id % 100 = 0) WHERE rn <= 2),
         ${pqQueryResCtes()},
         cand AS (
           SELECT qsr.query_id, astar.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(r.rv, qsr.qrv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adc
           FROM astar JOIN precon r USING (vec_id)
             JOIN qsr ON astar.cid = qsr.cid
           WHERE astar.vec_id <> qsr.query_id),
         adcr AS MATERIALIZED (
           SELECT query_id, neighbor,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adc, neighbor) AS rank
           FROM cand),
         adc5 AS (SELECT query_id, neighbor FROM adcr WHERE rank <= 5),
         shl AS (SELECT query_id, neighbor FROM adcr WHERE rank <= 25),
         exq AS (SELECT vec_id AS query_id, qv FROM allq
                 WHERE vec_id % 100 = 0),
         ref AS (
           SELECT sh.query_id, sh.neighbor,
             CAST(list_sum(list_transform(list_zip(a.qv, e.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM shl sh JOIN allq a ON sh.neighbor = a.vec_id
             JOIN exq e ON sh.query_id = e.query_id),
         ref5 AS MATERIALIZED (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS rank
             FROM ref) WHERE rank <= 5),
         excand AS (
           SELECT e.query_id, a.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(a.qv, e.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, exq e WHERE a.vec_id <> e.query_id),
         ex AS MATERIALIZED (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS rank
             FROM excand) WHERE rank <= 5),
         ma AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS na
                FROM ex JOIN adc5 USING (query_id, neighbor) GROUP BY 1),
         mr AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS nr
                FROM ex JOIN ref5 USING (query_id, neighbor) GROUP BY 1),
         per AS MATERIALIZED (
           SELECT e.query_id, CAST(count(*) AS BIGINT) AS k,
             coalesce(any_value(ma.na), 0) AS n_adc,
             coalesce(any_value(mr.nr), 0) AS n_refine
           FROM ex e LEFT JOIN ma ON e.query_id = ma.query_id
             LEFT JOIN mr ON e.query_id = mr.query_id
           GROUP BY 1),
         perall AS (
           SELECT query_id, k, n_adc, n_refine FROM per
           UNION ALL
           SELECT CAST(-1 AS BIGINT), CAST(sum(k) AS BIGINT),
             CAST(sum(n_adc) AS BIGINT), CAST(sum(n_refine) AS BIGINT)
           FROM per)
         SELECT query_id, k, n_adc, n_refine,
           n_adc * 1000 // k AS adc_permille,
           n_refine * 1000 // k AS refine_permille
         FROM perall ORDER BY query_id"""

  private def q162OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(VectorOps.LloydMaxIters,
           VectorOps.LloydMinImprove, "WHERE vec_id % 5 <> 0")},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         nd AS (
           SELECT a.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, cstar c WHERE a.vec_id % 5 = 0),
         anew AS (
           SELECT vec_id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS rn FROM nd) WHERE rn = 1),
         comb AS MATERIALIZED (
           SELECT vec_id, cid FROM astar WHERE vec_id % 7 <> 0
           UNION ALL
           SELECT vec_id, cid FROM anew WHERE vec_id % 7 <> 0),
         ${pqTrainCtes()},
         ${pqEncodeCtes("comb")},
         qs AS (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT a.vec_id, a.qv, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM allq a, cstar c
             WHERE a.vec_id % 100 = 0 AND a.vec_id % 7 <> 0) WHERE rn <= 2),
         ${pqQueryResCtes()},
         cand AS (
           SELECT qsr.query_id, cmb.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(r.rv, qsr.qrv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adc
           FROM comb cmb JOIN precon r USING (vec_id)
             JOIN qsr ON cmb.cid = qsr.cid
           WHERE cmb.vec_id <> qsr.query_id),
         adcr AS MATERIALIZED (
           SELECT query_id, neighbor,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adc, neighbor) AS rank
           FROM cand),
         adc5 AS (SELECT query_id, neighbor FROM adcr WHERE rank <= 5),
         shl AS (SELECT query_id, neighbor FROM adcr WHERE rank <= 25),
         exq AS (SELECT vec_id AS query_id, qv FROM allq
                 WHERE vec_id % 100 = 0 AND vec_id % 7 <> 0),
         ref AS (
           SELECT sh.query_id, sh.neighbor,
             CAST(list_sum(list_transform(list_zip(a.qv, e.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM shl sh JOIN allq a ON sh.neighbor = a.vec_id
             JOIN exq e ON sh.query_id = e.query_id),
         ref5 AS MATERIALIZED (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS rank
             FROM ref) WHERE rank <= 5),
         excand AS (
           SELECT e.query_id, a.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(a.qv, e.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, exq e
           WHERE a.vec_id % 7 <> 0 AND a.vec_id <> e.query_id),
         ex AS MATERIALIZED (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS rank
             FROM excand) WHERE rank <= 5),
         ma AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS na
                FROM ex JOIN adc5 USING (query_id, neighbor) GROUP BY 1),
         mr AS (SELECT ex.query_id, CAST(count(*) AS BIGINT) AS nr
                FROM ex JOIN ref5 USING (query_id, neighbor) GROUP BY 1),
         per AS MATERIALIZED (
           SELECT e.query_id, CAST(count(*) AS BIGINT) AS k,
             coalesce(any_value(ma.na), 0) AS n_adc,
             coalesce(any_value(mr.nr), 0) AS n_refine
           FROM ex e LEFT JOIN ma ON e.query_id = ma.query_id
             LEFT JOIN mr ON e.query_id = mr.query_id
           GROUP BY 1),
         perall AS (
           SELECT query_id, k, n_adc, n_refine FROM per
           UNION ALL
           SELECT CAST(-1 AS BIGINT), CAST(sum(k) AS BIGINT),
             CAST(sum(n_adc) AS BIGINT), CAST(sum(n_refine) AS BIGINT)
           FROM per)
         SELECT query_id, k, n_adc, n_refine,
           n_adc * 1000 // k AS adc_permille,
           n_refine * 1000 // k AS refine_permille
         FROM perall ORDER BY query_id"""

  private def q164OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(VectorOps.LloydMaxIters,
           VectorOps.LloydMinImprove, "WHERE vec_id % 5 <> 0")},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         qs AS MATERIALIZED (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT a.vec_id, a.qv, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM allq a, cstar c WHERE a.vec_id % 100 = 0) WHERE rn <= 2),
         cellsz0 AS (
           SELECT cid, CAST(count(*) AS BIGINT) AS cell_size
           FROM astar GROUP BY 1),
         cand0 AS (
           SELECT qs.query_id, astar.vec_id AS neighbor, astar.cid,
             CAST(list_sum(list_transform(list_zip(aq.qv, qs.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM astar JOIN q aq USING (vec_id) JOIN qs ON astar.cid = qs.cid
           WHERE astar.vec_id <> qs.query_id),
         ranked0 AS (
           SELECT query_id, neighbor, cid, dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor) AS BIGINT) AS rank
           FROM cand0),
         nd AS (
           SELECT a.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, cstar c WHERE a.vec_id % 5 = 0),
         anew AS (
           SELECT vec_id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS rn FROM nd) WHERE rn = 1),
         comb AS MATERIALIZED (
           SELECT vec_id, cid FROM astar WHERE vec_id % 7 <> 0
           UNION ALL
           SELECT vec_id, cid FROM anew WHERE vec_id % 7 <> 0),
         cellsz1 AS (
           SELECT cid, CAST(count(*) AS BIGINT) AS cell_size
           FROM comb GROUP BY 1),
         cand1 AS (
           SELECT qs.query_id, cb.vec_id AS neighbor, cb.cid,
             CAST(list_sum(list_transform(list_zip(aq.qv, qs.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM comb cb JOIN allq aq USING (vec_id)
             JOIN qs ON cb.cid = qs.cid
           WHERE cb.vec_id <> qs.query_id),
         ranked1 AS (
           SELECT query_id, neighbor, cid, dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor) AS BIGINT) AS rank
           FROM cand1)
         SELECT 'asof_build' AS stage, query_id, rank, neighbor, dist,
           cell_size
         FROM ranked0 JOIN cellsz0 USING (cid) WHERE rank <= 5
         UNION ALL
         SELECT 'live' AS stage, query_id, rank, neighbor, dist, cell_size
         FROM ranked1 JOIN cellsz1 USING (cid) WHERE rank <= 5
         ORDER BY stage, query_id, rank"""

  private def q179OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(VectorOps.LloydMaxIters,
           VectorOps.LloydMinImprove, "WHERE vec_id % 5 <> 0")},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         qs AS MATERIALIZED (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT a.vec_id, a.qv, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM allq a, cstar c WHERE a.vec_id % 100 = 0) WHERE rn <= 2),
         nd AS (
           SELECT a.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, cstar c WHERE a.vec_id % 5 = 0),
         anew AS (
           SELECT vec_id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS rn FROM nd) WHERE rn = 1),
         comb AS MATERIALIZED (
           SELECT vec_id, cid FROM astar
           UNION ALL
           SELECT vec_id, cid FROM anew),
         cellsz AS (
           SELECT cid, CAST(count(*) AS BIGINT) AS cell_size
           FROM comb GROUP BY 1),
         cand AS (
           SELECT qs.query_id, cb.vec_id AS neighbor, cb.cid,
             CAST(list_sum(list_transform(list_zip(aq.qv, qs.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM comb cb JOIN allq aq USING (vec_id)
             JOIN qs ON cb.cid = qs.cid
           WHERE cb.vec_id <> qs.query_id),
         ranked AS (
           SELECT query_id, neighbor, cid, dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor) AS BIGINT) AS rank
           FROM cand)
         SELECT query_id, rank, neighbor, dist, cell_size
         FROM ranked JOIN cellsz USING (cid) WHERE rank <= 5
         ORDER BY query_id, rank"""

  private def q165OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(
           VectorOps.LloydMaxIters, VectorOps.LloydMinImprove)},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         ${pqTrainCtes()},
         ${pqEncodeCtes("astar")},
         lab AS (SELECT vec_id, CAST(label AS BIGINT) AS label
                 FROM embeddings),
         qs AS (
           SELECT vec_id AS query_id, qv, label, cid FROM (
             SELECT a.vec_id, a.qv, l.label, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM allq a JOIN lab l USING (vec_id), cstar c
             WHERE a.vec_id % 100 = 0) WHERE rn <= 2),
         ${pqQueryResCtes(", qs.label")},
         cand AS (
           SELECT qsr.query_id, qsr.label, astar.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(r.rv, qsr.qrv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adc
           FROM astar JOIN precon r USING (vec_id)
             JOIN lab nl USING (vec_id)
             JOIN qsr ON astar.cid = qsr.cid AND nl.label = qsr.label
           WHERE astar.vec_id <> qsr.query_id),
         ranked AS (
           SELECT query_id, label, neighbor, adc,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY adc, neighbor) AS BIGINT) AS rank
           FROM cand)
         SELECT query_id, label, neighbor, adc, rank FROM ranked
         WHERE rank <= 5 ORDER BY query_id, rank"""

  private def q168OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(VectorOps.LloydMaxIters,
           VectorOps.LloydMinImprove, "WHERE vec_id % 5 <> 0")},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         nd AS (
           SELECT a.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, cstar c WHERE a.vec_id % 5 = 0),
         anew AS (
           SELECT vec_id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS rn FROM nd) WHERE rn = 1),
         sa AS (SELECT vec_id, CAST(cid AS BIGINT) AS cid_a FROM astar),
         sb AS (
           SELECT vec_id, CAST(cid AS BIGINT) AS cid_b FROM (
             SELECT vec_id, cid FROM astar WHERE vec_id % 7 <> 0
             UNION ALL
             SELECT vec_id, cid FROM anew WHERE vec_id % 7 <> 0)),
         j AS MATERIALIZED (
           SELECT sa.cid_a, sb.cid_b
           FROM sa FULL OUTER JOIN sb ON sa.vec_id = sb.vec_id),
         c AS (
           SELECT cid_b AS cid, 'added' AS kind FROM j WHERE cid_a IS NULL
           UNION ALL
           SELECT cid_a, 'removed' FROM j WHERE cid_b IS NULL
           UNION ALL
           SELECT cid_a, 'stable' FROM j WHERE cid_a = cid_b
           UNION ALL
           SELECT cid_a, 'moved_out' FROM j
           WHERE cid_a IS NOT NULL AND cid_b IS NOT NULL AND cid_a <> cid_b
           UNION ALL
           SELECT cid_b, 'moved_in' FROM j
           WHERE cid_a IS NOT NULL AND cid_b IS NOT NULL AND cid_a <> cid_b),
         per AS MATERIALIZED (
           SELECT cid,
             CAST(sum(CASE WHEN kind = 'added' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_added,
             CAST(sum(CASE WHEN kind = 'removed' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_removed,
             CAST(sum(CASE WHEN kind = 'moved_in' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_moved_in,
             CAST(sum(CASE WHEN kind = 'moved_out' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_moved_out,
             CAST(sum(CASE WHEN kind = 'stable' THEN 1 ELSE 0 END)
               AS BIGINT) AS n_stable
           FROM c GROUP BY 1)
         SELECT cid, n_added, n_removed, n_moved_in, n_moved_out, n_stable
         FROM per
         UNION ALL
         SELECT CAST(-1 AS BIGINT), CAST(sum(n_added) AS BIGINT),
           CAST(sum(n_removed) AS BIGINT), CAST(sum(n_moved_in) AS BIGINT),
           CAST(sum(n_moved_out) AS BIGINT), CAST(sum(n_stable) AS BIGINT)
         FROM per
         ORDER BY cid"""

  /** DuckDB replay of the q155 release-admission chain, producing the
    * `adm` (lang, doc_id, n_clean) relation plus the per-language
    * `inc`/`admc` rollups — the exact CTE text of q155's oracle up to
    * its audit joins (the admitted SET is the artifact here).
    */
  private[graft] def releaseAdmCtes: String =
    raw"""raw AS MATERIALIZED (
           SELECT doc_id, lang, source, text,
             string_split_regex(text, '\s+') AS toks
           FROM documents),
         keep AS (SELECT min(doc_id) AS doc_id FROM raw GROUP BY text),
         dd AS MATERIALIZED (SELECT raw.* FROM raw JOIN keep USING (doc_id)),
         t AS MATERIALIZED (
           SELECT doc_id, source, toks FROM dd
           WHERE len(toks) BETWEEN 20 AND 1000),
         w AS (
           SELECT doc_id,
             unnest(generate_series(1, len(toks) - 7)) AS i,
             unnest(list_transform(generate_series(1, len(toks) - 7),
               j -> substring(md5(array_to_string(toks[j:j+7], ' ')), 1, 16))) AS h
           FROM t WHERE len(toks) >= 8),
         nd AS (SELECT h FROM w GROUP BY h
                HAVING count(DISTINCT doc_id) >= 2),
         dw AS (SELECT w.doc_id, w.i FROM w JOIN nd ON w.h = nd.h),
         cov AS (
           SELECT DISTINCT doc_id, i + g AS p
           FROM dw, generate_series(0, 7) AS gs(g)),
         pos AS (
           SELECT doc_id, unnest(generate_series(1, len(toks))) AS p
           FROM t),
         keptagg AS (
           SELECT pos.doc_id, CAST(count(*) AS BIGINT) AS n_kept
           FROM pos LEFT JOIN cov
             ON pos.doc_id = cov.doc_id AND pos.p = cov.p
           WHERE cov.p IS NULL
           GROUP BY 1),
         cleaned AS MATERIALIZED (
           SELECT t.doc_id, dd.lang,
             CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_clean
           FROM t LEFT JOIN keptagg k USING (doc_id)
             JOIN dd USING (doc_id)),
         rankedr AS (
           SELECT lang, doc_id, n_clean,
             sum(n_clean) OVER (PARTITION BY lang
               ORDER BY n_clean DESC, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
           FROM cleaned WHERE n_clean >= 1),
         adm AS MATERIALIZED (
           SELECT lang, doc_id, CAST(n_clean AS BIGINT) AS n_clean
           FROM rankedr WHERE cum <= 3000),
         inc AS (SELECT lang, CAST(count(*) AS BIGINT) AS v
                 FROM raw GROUP BY 1),
         admc AS (SELECT lang, CAST(count(*) AS BIGINT) AS dv,
                    CAST(sum(n_clean) AS BIGINT) AS tv
                  FROM adm GROUP BY 1)"""

  private def q172OracleSql: String =
    s"""WITH $releaseAdmCtes,
         ${VectorOps.lloydCtes(
           VectorOps.LloydMaxIters, VectorOps.LloydMinImprove,
           srcWhere = "WHERE vec_id IN (SELECT doc_id FROM adm)",
           seedWhere =
             "vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT 16)")},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         ${pqTrainCtes(seedWhere =
           "vec_id IN (SELECT vec_id FROM q ORDER BY vec_id LIMIT 16)")},
         ${pqEncodeCtes("astar")},
         qs AS (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT a.vec_id, a.qv, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM q a, cstar c WHERE a.vec_id % 5 = 0) WHERE rn <= 2),
         ${pqQueryResCtes()},
         cand AS (
           SELECT qsr.query_id, astar.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(r.rv, qsr.qrv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adc
           FROM astar JOIN precon r USING (vec_id)
             JOIN qsr ON astar.cid = qsr.cid
           WHERE astar.vec_id <> qsr.query_id),
         adcr AS MATERIALIZED (
           SELECT query_id, neighbor,
             row_number() OVER (PARTITION BY query_id
               ORDER BY adc, neighbor) AS rank
           FROM cand),
         adc5 AS (SELECT query_id, neighbor FROM adcr WHERE rank <= 5),
         shl AS (SELECT query_id, neighbor FROM adcr WHERE rank <= 25),
         exq AS (SELECT vec_id AS query_id, qv FROM q
                 WHERE vec_id % 5 = 0),
         ref AS (
           SELECT sh.query_id, sh.neighbor,
             CAST(list_sum(list_transform(list_zip(a.qv, e.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM shl sh JOIN q a ON sh.neighbor = a.vec_id
             JOIN exq e ON sh.query_id = e.query_id),
         ref5 AS MATERIALIZED (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS rank
             FROM ref) WHERE rank <= 5),
         excand AS (
           SELECT e.query_id, a.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(a.qv, e.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM q a, exq e WHERE a.vec_id <> e.query_id),
         ex AS MATERIALIZED (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS rank
             FROM excand) WHERE rank <= 5),
         vic AS (SELECT a.lang, CAST(count(*) AS BIGINT) AS nv
                 FROM adm a JOIN q v ON a.doc_id = v.vec_id GROUP BY 1),
         kt AS (SELECT CAST(count(*) AS BIGINT) AS k_total FROM ex),
         nq AS (SELECT CAST(count(*) AS BIGINT) AS n_queries FROM exq),
         ah AS (SELECT CAST(count(*) AS BIGINT) AS adc_hits
                FROM ex JOIN adc5 USING (query_id, neighbor)),
         rh AS (SELECT CAST(count(*) AS BIGINT) AS refine_hits
                FROM ex JOIN ref5 USING (query_id, neighbor))
         SELECT metric, lang, value FROM (
           SELECT 'docs_in' AS metric, lang, v AS value FROM inc
           UNION ALL
           SELECT 'docs_admitted', lang, dv FROM admc
           UNION ALL
           SELECT 'toks_admitted', lang, tv FROM admc
           UNION ALL
           SELECT 'vecs_indexed', lang, nv FROM vic
           UNION ALL
           SELECT 'n_queries', '*', n_queries FROM nq
           UNION ALL
           SELECT 'k_total', '*', k_total FROM kt
           UNION ALL
           SELECT 'adc_hits', '*', adc_hits FROM ah
           UNION ALL
           SELECT 'refine_hits', '*', refine_hits FROM rh
           UNION ALL
           SELECT 'adc_permille', '*', adc_hits * 1000 // k_total
           FROM ah, kt
           UNION ALL
           SELECT 'refine_permille', '*', refine_hits * 1000 // k_total
           FROM rh, kt)
         ORDER BY metric, lang"""

  private def q173OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(
           VectorOps.LloydMaxIters, VectorOps.LloydMinImprove)},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         ${pqTrainCtes()},
         ${pqEncodeCtes("astar")},
         qs AS (
           SELECT vec_id AS query_id, qv, cid, rn AS crank, cdist, cbest
           FROM (
             SELECT vec_id, qv, cid, cdist,
               row_number() OVER (PARTITION BY vec_id
                 ORDER BY cdist, cid) AS rn,
               min(cdist) OVER (PARTITION BY vec_id) AS cbest
             FROM (
               SELECT a.vec_id, a.qv, c.cid,
                 CAST(list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS cdist
               FROM allq a, cstar c WHERE a.vec_id % 100 = 0))
           WHERE rn <= $AdaptMaxProbes),
         plev AS MATERIALIZED (
           SELECT l.nprobe, qs.query_id, qs.qv, qs.cid
           FROM (SELECT unnest([1, 2, 4]) AS nprobe) l
             JOIN qs ON qs.crank <= l.nprobe
           UNION ALL
           SELECT 0 AS nprobe, query_id, qv, cid FROM qs
           WHERE crank = 1 OR (crank <= $AdaptMaxProbes
             AND cdist * $AdaptRatioDen <= cbest * $AdaptRatioNum)),
         cellsz AS (SELECT cid, CAST(count(*) AS BIGINT) AS csz
                    FROM astar GROUP BY 1),
         lv AS (SELECT unnest([0, 1, 2, 4]) AS nprobe),
         mass AS (
           SELECT p.nprobe, CAST(sum(cs.csz) AS BIGINT) AS probed_mass
           FROM plev p JOIN cellsz cs USING (cid)
           GROUP BY 1),
         qsr AS (
           SELECT p.nprobe, p.query_id, p.cid,
             list_transform(list_zip(p.qv, c.cq),
               z -> z[1] - z[2]) AS qrv
           FROM plev p JOIN cstar c USING (cid)),
         cand AS (
           SELECT qsr.nprobe, qsr.query_id, astar.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(r.rv, qsr.qrv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS adc
           FROM astar JOIN precon r USING (vec_id)
             JOIN qsr ON astar.cid = qsr.cid
           WHERE astar.vec_id <> qsr.query_id),
         adcr AS MATERIALIZED (
           SELECT nprobe, query_id, neighbor,
             row_number() OVER (PARTITION BY nprobe, query_id
               ORDER BY adc, neighbor) AS rank
           FROM cand),
         adc5 AS (SELECT nprobe, query_id, neighbor FROM adcr
                  WHERE rank <= 5),
         exq AS (SELECT vec_id AS query_id, qv FROM allq
                 WHERE vec_id % 100 = 0),
         refd AS MATERIALIZED (
           SELECT sh.nprobe, sh.query_id, sh.neighbor, sh.rank AS adcrank,
             CAST(list_sum(list_transform(list_zip(a.qv, e.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM adcr sh JOIN allq a ON sh.neighbor = a.vec_id
             JOIN exq e ON sh.query_id = e.query_id
           WHERE sh.rank <= 100),
         ref5 AS (
           SELECT nprobe, query_id, neighbor FROM (
             SELECT nprobe, query_id, neighbor,
               row_number() OVER (PARTITION BY nprobe, query_id
                 ORDER BY dist, neighbor) AS rank
             FROM refd WHERE adcrank <= 25) WHERE rank <= 5),
         refw5 AS (
           SELECT nprobe, query_id, neighbor FROM (
             SELECT nprobe, query_id, neighbor,
               row_number() OVER (PARTITION BY nprobe, query_id
                 ORDER BY dist, neighbor) AS rank
             FROM refd) WHERE rank <= 5),
         excand AS (
           SELECT e.query_id, a.vec_id AS neighbor,
             CAST(list_sum(list_transform(list_zip(a.qv, e.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM allq a, exq e WHERE a.vec_id <> e.query_id),
         ex AS MATERIALIZED (
           SELECT query_id, neighbor FROM (
             SELECT query_id, neighbor,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY dist, neighbor) AS rank
             FROM excand) WHERE rank <= 5),
         kt AS (SELECT CAST(count(*) AS BIGINT) AS k_total FROM ex),
         ah AS (SELECT a5.nprobe, CAST(count(*) AS BIGINT) AS adc_hits
                FROM ex JOIN adc5 a5 USING (query_id, neighbor)
                GROUP BY 1),
         rh AS (SELECT r5.nprobe, CAST(count(*) AS BIGINT) AS refine_hits
                FROM ex JOIN ref5 r5 USING (query_id, neighbor)
                GROUP BY 1),
         rwh AS (SELECT r5.nprobe,
                   CAST(count(*) AS BIGINT) AS refine_wide_hits
                 FROM ex JOIN refw5 r5 USING (query_id, neighbor)
                 GROUP BY 1),
         ch AS (SELECT p.nprobe, CAST(count(*) AS BIGINT) AS ceiling_hits
                FROM ex JOIN astar h ON ex.neighbor = h.vec_id
                  JOIN (SELECT DISTINCT nprobe, query_id, cid FROM plev) p
                    ON p.query_id = ex.query_id AND p.cid = h.cid
                GROUP BY 1)
         SELECT CAST(l.nprobe AS BIGINT) AS nprobe, m.probed_mass,
           kt.k_total,
           coalesce(ah.adc_hits, 0) AS adc_hits,
           coalesce(rh.refine_hits, 0) AS refine_hits,
           coalesce(rwh.refine_wide_hits, 0) AS refine_wide_hits,
           coalesce(ch.ceiling_hits, 0) AS ceiling_hits,
           coalesce(ah.adc_hits, 0) * 1000 // kt.k_total AS adc_permille,
           coalesce(rh.refine_hits, 0) * 1000 // kt.k_total
             AS refine_permille,
           coalesce(rwh.refine_wide_hits, 0) * 1000 // kt.k_total
             AS refine_wide_permille,
           coalesce(ch.ceiling_hits, 0) * 1000 // kt.k_total
             AS ceiling_permille
         FROM lv l JOIN mass m ON l.nprobe = m.nprobe
           LEFT JOIN ah ON l.nprobe = ah.nprobe
           LEFT JOIN rh ON l.nprobe = rh.nprobe
           LEFT JOIN rwh ON l.nprobe = rwh.nprobe
           LEFT JOIN ch ON l.nprobe = ch.nprobe
           CROSS JOIN kt
         ORDER BY nprobe"""

  private def q175OracleSql: String =
    s"""WITH ${VectorOps.lloydCtes(VectorOps.LloydMaxIters,
           VectorOps.LloydMinImprove, "WHERE vec_id % 2 = 0")},
         ${VectorOps.lloydStarCtes(VectorOps.LloydMaxIters)},
         bsrc AS (
           SELECT vec_id, qv FROM allq
           WHERE vec_id % 2 = 1 AND vec_id % 7 <> 0),
         nd AS (
           SELECT b.vec_id, c.cid,
             CAST(list_sum(list_transform(list_zip(b.qv, c.cq),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM bsrc b, cstar c),
         anew AS (
           SELECT vec_id, cid FROM (
             SELECT *, row_number() OVER (PARTITION BY vec_id
               ORDER BY dist, cid) AS rn FROM nd) WHERE rn = 1),
         merged AS MATERIALIZED (
           SELECT vec_id, cid FROM astar
           UNION ALL SELECT vec_id, cid FROM anew),
         cellsz AS (
           SELECT cid, CAST(count(*) AS BIGINT) AS cell_size
           FROM merged GROUP BY 1),
         qs AS (
           SELECT vec_id AS query_id, qv, cid FROM (
             SELECT a.vec_id, a.qv, c.cid,
               row_number() OVER (PARTITION BY a.vec_id ORDER BY
                 list_sum(list_transform(list_zip(a.qv, c.cq),
                   z -> (z[1] - z[2]) * (z[1] - z[2]))), c.cid) AS rn
             FROM allq a, cstar c WHERE a.vec_id % 75 = 0) WHERE rn <= 2),
         cand AS (
           SELECT qs.query_id, m.vec_id AS neighbor, m.cid,
             CAST(list_sum(list_transform(list_zip(aq.qv, qs.qv),
               z -> (z[1] - z[2]) * (z[1] - z[2]))) AS BIGINT) AS dist
           FROM merged m JOIN allq aq USING (vec_id)
             JOIN qs ON m.cid = qs.cid
           WHERE m.vec_id <> qs.query_id),
         ranked AS (
           SELECT query_id, neighbor, cid, dist,
             CAST(row_number() OVER (PARTITION BY query_id
               ORDER BY dist, neighbor) AS BIGINT) AS rank
           FROM cand)
         SELECT query_id, rank, neighbor, dist, cell_size
         FROM ranked JOIN cellsz USING (cid)
         WHERE rank <= 5 ORDER BY query_id, rank"""

  def oracles: Map[String, String] = Map(
    "q152_ivf_index_serve" -> q152OracleSql,
    "q153_ivf_incremental" -> q153OracleSql,
    "q156_filtered_ann" -> q156OracleSql,
    "q157_ivf_delete_compact" -> q157OracleSql,
    "q158_mutated_recall" -> q158OracleSql,
    "q159_ivfpq_store" -> q159OracleSql,
    "q160_ivfpq_lifecycle" -> q160OracleSql,
    "q161_pq_refine_recall" -> q161OracleSql,
    "q162_pq_mutated_recall" -> q162OracleSql,
    "q164_index_time_travel" -> q164OracleSql,
    "q179_store_clone" -> q179OracleSql,
    "q165_filtered_pq_ann" -> q165OracleSql,
    "q168_snapshot_diff" -> q168OracleSql,
    "q172_release_to_serving" -> q172OracleSql,
    "q173_ann_tuning_curve" -> q173OracleSql,
    "q175_index_merge" -> q175OracleSql
  )
}
