package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, StringType, StructType}
import graft.operators.FlatManifest.Snap

/** The ONE generation lifecycle of every persisted store: the flat
  * stores ([[BinaryStore]], [[IvfBinaryStore]], [[MaxSimStore]]) on
  * [[FlatManifest]] and [[IvfIndex]] on its `IndexManifest`. A store
  * names its manifest and its state `S` (the committed generations per
  * cell, [[ManifestState.cells]]: a flat store's one generation list, or
  * the index's `cell=` map), and supplies its generation-keyed [[Root]]s,
  * its tombstone key, how a batch becomes one generation's files
  * ([[writeGen]]), its compaction plan and fold ([[plan]], [[fold]]), its
  * versioned directories ([[metaDirs]]) and its serve plan. The kernel
  * owns the rest: build ([[create]]), exactly-once [[ingest]],
  * [[delete]] and the tombstone [[mask]], [[compact]], the GC
  * ([[vacuum]]), the time-travel existence check ([[snapAt]]), the
  * serving-cache pins ([[servingLive]]) and the one generation publish
  * ([[writeRoot]]). An ingest, a fold and a delete write their rows
  * [[GenStore.sized]]: one partition, and so one file per directory, per
  * 512 KiB of payload (Flock's payload batch), so a micro-batch
  * generation is a handful of files. Commit, retention and GC follow the
  * [[ManifestProtocol]] state machine: write new directories, commit the
  * manifest, then collect.
  *
  * The publish writes into `<root>/.gen-tmp-<gen>` (the leading dot hides
  * it from partition discovery), then renames publish the generation
  * before the commit. A replay overwrites its tmp dir and replaces a
  * renamed but uncommitted generation, GC sweeps the rest (the crash
  * argument is [[ManifestProtocol]]'s). This replaced
  * dynamic-partition-overwrite writes, whose commit moved every
  * partition directory one by one on the driver: ~3× the write itself
  * for micro-batch generations (VERDICT.md, round 15: 64-bucket vectors
  * 1.0–2.0 s dyn-overwrite vs 0.4 s tmp+rename at 128 rows).
  */
private[graft] abstract class GenStore {
  import GenStore._

  /** The store's manifest and its committed state. */
  private[graft] type S <: ManifestState[S]
  protected def manifest: ManifestProtocol { type S = GenStore.this.S }

  /** The data roots; the first is the counted one. */
  protected def roots: Seq[Root]

  /** The counted root as `snap` stores it (its data columns' types). */
  protected def countedRoot(s: SparkSession, dir: String, snap: S): Root =
    roots.head

  /** Non-generation directories a build owns beside the roots. */
  protected def ownsDir(name: String): Boolean = false

  /** The id column tombstones record, and the data column it masks. */
  protected def tombKey: String
  protected def rowKey: String = tombKey

  /** The rows of an ingested batch the store writes. */
  protected def ingestRows(dir: String, snap: S, batch: DataFrame): DataFrame =
    batch

  /** Write `rows` as generation `gen` on top of `snap`; returns the cells
    * it published ([[writeRoot]]). An ingest passes its rows [[sized]]:
    * one partition per file the generation's payload fills.
    */
  protected def writeGen(dir: String, snap: S, rows: DataFrame,
      gen: Long): Set[Long]

  /** The report [[compact]] returns and the cells to fold, over
    * `counted` (the counted root's committed rows; `dead`: the ids of
    * every committed tombstone set).
    */
  protected def plan(s: SparkSession, dir: String, snap: S,
      counted: DataFrame, dead: Set[Long]): (DataFrame, Set[Long])

  /** Write the live rows of `cells` (`masked` applies the tombstones) as
    * compaction output `gen`; returns the cells it published.
    */
  protected def fold(s: SparkSession, dir: String, snap: S,
      counted: DataFrame, cells: Set[Long], masked: DataFrame => DataFrame,
      gen: Long): Set[Long]

  /** Versioned non-generation directories `snap` references (also the
    * [[ServingCache]] keys of their driver-held values).
    */
  protected def metaDirs(snap: S): Seq[String] = Nil

  /** Sweep the versioned directories no `snaps` reference; per-kind counts. */
  protected def sweepMeta(f: FileSystem, dir: String,
      snaps: Seq[S]): Map[String, Long] = Map.empty

  // ---------- data plane ----------

  /** `root`'s rows (with `gen` and the inner partitions) in `snap`,
    * filtered to its committed leaves by a partition-pruning predicate
    * ([[Root.committed]]), so uncommitted files are never read. The
    * data columns are read with the root's schema, so no parquet footer
    * is opened to infer it; partition columns come from the directory
    * names.
    */
  protected def rel(s: SparkSession, dir: String, snap: S,
      root: Root): DataFrame =
    if (snap.cells.values.forall(_.isEmpty)) root.empty(s)
    else s.read.schema(root.dataSchema).parquet(s"$dir/${root.name}")
      .filter(root.committed(snap.cells))

  /** Publish `df` (without `gen`) as generation `gen` of `root`: ONE
    * overwriting write into `<root>/.gen-tmp-<gen>` partitioned by the
    * inner columns, then renames — the tmp dir to `gen=<gen>` for a
    * generation-first root, or each leaf `<inner>=…/` to
    * `<inner>=…/gen=<gen>` for a cell-major one. Returns the cells
    * published: the one [[Flat]] cell, or the cells of the leaves listed
    * in the tmp dir, which the overwrite left holding only this
    * attempt's output.
    */
  protected def writeRoot(root: Root, dir: String, df: DataFrame,
      gen: Long): Set[Long] = {
    val f = manifest.fs(df.sparkSession, dir)
    val base = new Path(dir, root.name)
    val tmp = new Path(base, s".gen-tmp-$gen")
    val w = df.write.mode(SaveMode.Overwrite)
    (if (root.inner.isEmpty) w else w.partitionBy(root.inner: _*))
      .parquet(tmp.toString)
    def move(from: Path, to: Path): Unit = {
      if (f.exists(to))
        require(f.delete(to, true),
          s"stale uncommitted generation dir $to could not be replaced")
      require(f.rename(from, to),
        s"generation publish failed: rename $from -> $to returned false")
    }
    if (!root.cellMajor) {
      move(tmp, new Path(base, s"gen=$gen"))
      Set(Flat)
    } else {
      val leaves = root.inner.foldLeft(Seq(tmp))((ps, _) => ps.flatMap(p =>
        f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath)))
      val cells = leaves.map { leaf =>
        val names = Iterator.iterate(leaf)(_.getParent)
          .take(root.inner.length).map(_.getName).toSeq.reverse
        val dest = new Path(names.foldLeft(base)(new Path(_, _)), s"gen=$gen")
        f.mkdirs(dest.getParent)
        move(leaf, dest)
        names.head.stripPrefix(s"${root.inner.head}=").toLong
      }
      require(f.delete(tmp, true), s"published tmp dir $tmp not removed")
      cells.toSet
    }
  }

  private def tombstonesOf(s: SparkSession, dir: String,
      snap: S): Option[DataFrame] =
    if (snap.tombs.isEmpty) None
    else Some(s.read.schema(s"$tombKey BIGINT")
      .parquet(s"$dir/${manifest.TombRoot}")
      .filter(col("del").isin(snap.tombs: _*))
      .select(col(tombKey).as(rowKey)))

  /** `df` with `snap`'s tombstone mask applied: a broadcast anti-join,
    * bounded by the delete volume between compactions (see [[delete]]).
    */
  protected def mask(s: SparkSession, dir: String, snap: S,
      df: DataFrame): DataFrame =
    tombstonesOf(s, dir, snap).fold(df)(t =>
      df.join(broadcast(t.distinct()), Seq(rowKey), "left_anti"))

  /** The live rows (data and inner partition columns) of the counted root. */
  protected def live(s: SparkSession, dir: String, snap: S): DataFrame = {
    val root = countedRoot(s, dir, snap)
    mask(s, dir, snap, rel(s, dir, snap, root).select(root.cols.map(col): _*))
  }

  /** The latest snapshot, or the retained `epoch` (data-checked). */
  protected def snapAt(s: SparkSession, dir: String,
      epoch: Option[Long]): S =
    epoch.fold(manifest.read(s, dir))(e =>
      manifest.readAt(s, dir, e)(verifyData(s, dir)))

  /** Existence check for everything a snapshot references: every
    * committed generation directory of every root (one listing per cell
    * of a cell-major root, bounded by its cell count), every tombstone
    * set and every [[metaDirs]] version. Writers never commit a
    * generation without files (a cell a write left empty commits an
    * empty generation LIST), so a missing directory always means
    * reclaimed data — the check can be strict.
    */
  private def verifyData(s: SparkSession, dir: String)(snap: S): Unit = {
    val f = manifest.fs(s, dir)
    def gone(what: String): Nothing = throw new IllegalStateException(
      s"store $dir epoch ${snap.epoch}: $what no longer exists — its " +
        "data was reclaimed by GC under a narrower retention window")
    val gens = snap.cells.values.flatten.toSeq.distinct
    roots.foreach { r =>
      val rp = new Path(dir, r.name)
      if (!r.cellMajor) gens.foreach { g =>
        if (!f.exists(new Path(rp, s"gen=$g"))) gone(s"${r.name} generation $g")
      } else snap.cells.filter(_._2.nonEmpty).foreach { case (c, cg) =>
        val cd = new Path(rp, s"${r.inner.head}=$c")
        val found: Set[Long] =
          if (f.exists(cd)) genLeaves(f, cd).map(genOf).toSet else Set.empty
        cg.filterNot(found).foreach(g =>
          gone(s"${r.name} generation ${cd.getName}/gen=$g"))
      }
    }
    snap.tombs.foreach { t =>
      if (!f.exists(new Path(s"$dir/${manifest.TombRoot}", s"del=$t")))
        gone(s"tombstone set $t")
    }
    metaDirs(snap).foreach(m => if (!f.exists(new Path(dir, m))) gone(m))
  }

  // ---------- serving cache ----------

  /** The committed generations with the cells that reference them, in
    * generation order.
    */
  private def genCells(snap: S): Seq[(Long, Seq[Long])] =
    snap.cells.toSeq.flatMap { case (c, gs) => gs.map(_ -> c) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (g, cs) => g -> cs.map(_._2).sorted }

  private def genKey(g: Long, cells: Seq[Long]) =
    s"gen=$g cells=${cells.mkString(",")}"

  /** Every [[ServingCache]] key the cached serve of `snap` uses: one per
    * generation TOGETHER with the cells still referencing it (a fold of
    * some of its cells changes the key, so a pin never holds a
    * superseded cell), one per tombstone set, and the [[metaDirs]].
    */
  private def servingKeys(snap: S): Set[String] =
    genCells(snap).map { case (g, cs) => genKey(g, cs) }.toSet ++
      snap.tombs.map(ServingCache.delKey) ++ metaDirs(snap)

  /** The live serving rows of `snap` from the [[ServingCache]]: each
    * generation's rows `pin(g, cells)` pinned once, unioned (`empty`
    * when none is live), with the snapshot's tombstone ids masked out.
    */
  protected def servingLive(s: SparkSession, dir: String, snap: S,
      empty: => DataFrame)(pin: (Long, Seq[Long]) => DataFrame): DataFrame = {
    ServingCache.retain(s, dir, servingKeys(snap))
    val pinned = genCells(snap).map { case (g, cells) =>
      ServingCache.relation(s, dir, genKey(g, cells))(pin(g, cells)) }
    ServingCache.mask(pinned.reduceOption(_ unionByName _).getOrElse(empty),
      rowKey, ServingCache.tombstones(s, dir, tombKey, snap.tombs))
  }

  // ---------- lifecycle ----------

  /** Build: wipe a recognizable store directory (which drops its
    * [[ServingCache]] entries: a rebuild restarts epochs and generation
    * ids); `write0` writes generation 0 (and any owned directories) and
    * returns the epoch-1 state to commit.
    */
  protected def create(s: SparkSession, dir: String)(write0: => S): Unit = {
    manifest.prepareBuildDir(s, dir)(n =>
      roots.exists(_.name == n) || ownsDir(n))
    manifest.commit(s, dir, write0)
  }

  /** Exactly-once ingest of `batch` as caller generation `gen` (> 0),
    * committed over the cells its write published. A generation the
    * manifest has already committed (even one a compaction has since
    * folded) is a no-op; an EMPTY batch commits its id into the
    * watermark without a file-less generation, so its replay is a no-op
    * too. This is the idempotent-sink contract a streaming `foreachBatch`
    * needs (the sink names generations batchId + 1).
    */
  private[graft] def ingest(s: SparkSession, dir: String, batch: DataFrame,
      gen: Long): Unit = {
    require(gen > 0L,
      s"ingest generations are caller-named positives (got $gen); " +
        "internal generations are negative by construction")
    val snap = manifest.read(s, dir)
    if (snap.committedIngest(gen)) return
    val marked = snap.withIngested(gen)
    sized(ingestRows(dir, snap, batch).localCheckpoint(true)) match {
      case None => manifest.commit(s, dir, marked.next())
      case Some(rows) =>
        val touched = writeGen(dir, snap, rows, gen)
        manifest.commit(s, dir, marked.next(cells = snap.cells ++ touched.map(
          c => c -> (snap.cells.getOrElse(c, Nil) :+ gen).distinct)))
    }
  }

  /** Tombstone deletes: record the rows whose [[tombKey]] is in `ids`
    * under `tombstones/del=<epoch>/` without touching a data byte — the
    * LSM discipline every mutable index uses at scale — and COMMIT the
    * set in the manifest, so the mask is snapshot-scoped: a time-travel
    * read of an earlier epoch never sees a later delete. Serves mask
    * tombstones logically ([[mask]]); [[compact]] later removes them
    * physically; a cached serve masks with the driver-held ids
    * ([[servingLive]]). Deletes cost O(batch) regardless of corpus size,
    * and the tombstone set stays bounded by the delete volume between
    * compactions (which is what makes the serve-side broadcast
    * anti-join safe). A crashed delete attempt's files are invisible
    * (not in any manifest) and a re-run replaces them via dynamic
    * partition overwrite before committing its own epoch; masking is
    * idempotent, so a replayed delete of the same ids only costs a
    * redundant set. The ids are written [[GenStore.sized]] (a
    * micro-batch's set is one file). An empty batch is a full no-op:
    * writing it would create a `del=` directory holding only `_SUCCESS`,
    * and committing its set id would name a set with no file.
    */
  def delete(s: SparkSession, dir: String, ids: DataFrame): Unit =
    sized(ids.select(col(tombKey).cast("long").as(tombKey))
        .localCheckpoint(true)).foreach { batch =>
      val snap = manifest.read(s, dir)
      val delId = snap.epoch + 1
      batch.withColumn("del", lit(delId))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("del").parquet(s"$dir/${manifest.TombRoot}")
      manifest.commit(s, dir, snap.next(tombs = snap.tombs :+ delId))
    }

  /** Physically apply the accumulated tombstones and fold generations —
    * the LSM compaction to [[delete]]'s logical mask. The store's
    * [[plan]] picks the cells to fold and builds the report; their
    * survivors are written as ONE fresh internal generation
    * ([[fold]]), the manifest swap retires the old generations and the
    * tombstone sets (the deletes are now physical; a folded cell left
    * with no survivor commits an EMPTY generation list), and only then
    * are the old directories deleted — every other cell's files are
    * left byte-untouched, and a crash at any point leaves the previous
    * snapshot fully readable. With nothing to fold, pending tombstones
    * are retired by a metadata-only commit (they would otherwise cost
    * every serve; clearing is idempotent). Returns the plan's report.
    *
    * The tombstone ids are held on the driver ([[ServingCache.tombstones]]:
    * each committed set is read once, and a set a cached serve already
    * holds costs no read), so the plan and the fold mask them with an id
    * filter — the same bound the serve-side broadcast relies on.
    */
  def compact(s: SparkSession, dir: String): DataFrame = {
    val snap = manifest.read(s, dir)
    val dead = ServingCache.tombstones(s, dir, tombKey, snap.tombs)
    val rows = rel(s, dir, snap, countedRoot(s, dir, snap))
    val (report, cells) = plan(s, dir, snap, rows, dead)
    if (cells.nonEmpty) {
      val newGen = snap.nextInternal
      val kept = fold(s, dir, snap, rows, cells,
        ServingCache.mask(_, rowKey, dead), newGen)
      commitAndSweep(s, dir, snap.next(tombs = Nil,
        nextInternal = newGen - 1L, cells = snap.cells ++ cells.map(c =>
          c -> (if (kept(c)) Seq(newGen) else Seq.empty[Long]))))
    } else if (snap.tombs.nonEmpty)
      commitAndSweep(s, dir, snap.next(tombs = Nil))
    else gcSweep(s, dir)
    report
  }

  /** The tail of every folding mutation: commit `next`, unpin what it
    * superseded, then GC strictly after the commit — the retention-aware
    * sweep removes the superseded directories unless an older retained
    * epoch (time travel) still references them.
    */
  protected def commitAndSweep(s: SparkSession, dir: String, next: S): Unit = {
    manifest.commit(s, dir, next)
    ServingCache.retain(s, dir, servingKeys(next))
    gcSweep(s, dir)
  }

  /** Garbage-collect everything no RETAINED manifest references: data
    * generation directories orphaned by a crashed attempt or left behind
    * by a pre-crash mutation's skipped GC, whole cell directories a
    * mutation retired, tmp dirs a crash left between write and rename,
    * superseded versioned directories ([[sweepMeta]]), tombstone sets
    * and stray manifest temp files. The commit protocol makes such
    * orphans INVISIBLE to readers (the committed-leaf predicate never
    * matches them), so vacuum is pure space reclamation with respect to
    * READERS — it reads the retained manifests and deletes only paths
    * they provably do not own. It is a WRITER-SIDE maintenance
    * operation, though: like every mutation it assumes the single
    * logical writer, and runs under that writer's schedule (temp
    * manifests for epochs past the committed head are left alone so an
    * in-flight commit is never yanked mid-rename). Returns one row per
    * reclaimed path kind: (kind, n_removed).
    *
    * Scale: directory listings of the store root, each data root and
    * each cell directory — metadata-only, no data bytes read; a
    * deployment runs it on the maintenance cadence (after compactions)
    * or from a crash janitor.
    */
  def vacuum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    gcSweep(s, dir).toSeq.sortBy(_._1).toDF("kind", "n_removed")
  }

  /** The one GC (the protocol's step 3), over what the RETAINED
    * snapshots reference ([[ManifestProtocol.retained]]). A
    * generation-first root's top-level `gen=` directories are kept while
    * a retained snapshot names the generation; a cell-major root's cell
    * directories are kept while a retained snapshot names the cell
    * (`orphan_cell_dirs` otherwise), and their `gen=` leaves while it
    * names the generation in that cell. A `.gen-tmp-` dir survives only
    * a crash between write and rename; it is garbage once its generation
    * is committed anywhere (the committing replay wrote and renamed its
    * OWN tmp): `tmp_gen_dirs`. Then the versioned directories
    * ([[sweepMeta]]), the tombstone sets under `tombstones/`, and the
    * dead `.manifest-tmp-` files. Runs inline after folding mutations
    * and standalone as [[vacuum]]. Metadata-only: directory listings, no
    * data bytes read.
    */
  private def gcSweep(s: SparkSession, dir: String): Map[String, Long] = {
    val snaps = manifest.retained(s, dir)
    val f = manifest.fs(s, dir)
    val liveCells = snaps.flatMap(_.cells.toSeq).groupBy(_._1)
      .map { case (c, gs) => c -> gs.flatMap(_._2).toSet }
    val liveGens = liveCells.values.flatten.toSet
    val liveTombs = snaps.flatMap(_.tombs).toSet
    var orphanGens = 0L
    var orphanCells = 0L
    var tmpGens = 0L
    var orphanTombs = 0L
    var tmpManifests = 0L
    def drop(p: Path): Unit =
      require(f.delete(p, true), s"gc failed to delete $p")
    roots.map(r => r -> new Path(dir, r.name)).filter(rp => f.exists(rp._2))
      .foreach { case (r, rp) =>
        f.listStatus(rp).filter(_.isDirectory).map(_.getPath).foreach { d =>
          val n = d.getName
          if (n.startsWith(".gen-tmp-")) {
            val g = n.stripPrefix(".gen-tmp-").toLong
            if (liveGens(g) || snaps.exists(_.committedIngest(g))) {
              drop(d); tmpGens += 1
            }
          } else if (!r.cellMajor) {
            if (n.startsWith("gen=") && !liveGens(genOf(d))) {
              drop(d); orphanGens += 1
            }
          } else if (n.startsWith(s"${r.inner.head}=")) {
            liveCells.get(n.stripPrefix(s"${r.inner.head}=").toLong) match {
              case None => drop(d); orphanCells += 1
              case Some(gens) => genLeaves(f, d).filterNot(g => gens(genOf(g)))
                .foreach { g => drop(g); orphanGens += 1 }
            }
          }
        }
      }
    val meta = sweepMeta(f, dir, snaps)
    val tp = new Path(dir, manifest.TombRoot)
    if (f.exists(tp)) {
      val dead = f.listStatus(tp).filter(_.isDirectory).map(_.getPath)
        .filter(_.getName.startsWith("del="))
        .filterNot(d => liveTombs(d.getName.stripPrefix("del=").toLong))
      orphanTombs = dead.length.toLong
      if (liveTombs.isEmpty) drop(tp) else dead.foreach(drop)
    }
    // only reclaim temp manifests that can never commit: an epoch at or
    // below the latest committed one would lose the optimistic-
    // concurrency check anyway. A temp for a FUTURE epoch may belong to
    // a mutation in flight between create and rename — deleting it
    // would fail that writer's commit, so leave it for the next sweep.
    val head = snaps.map(_.epoch).max
    f.listStatus(new Path(dir)).map(_.getPath).filter { p =>
      p.getName.startsWith(".manifest-tmp-") &&
        p.getName.stripPrefix(".manifest-tmp-").toLong <= head
    }.foreach { p =>
      require(f.delete(p, false), s"gc failed to delete $p")
      tmpManifests += 1
    }
    Map("orphan_gen_dirs" -> orphanGens, "tmp_gen_dirs" -> tmpGens,
      "orphan_tombstone_sets" -> orphanTombs,
      "tmp_manifests" -> tmpManifests) ++
      (if (roots.exists(_.cellMajor)) Map("orphan_cell_dirs" -> orphanCells)
       else Map.empty) ++ meta
  }
}

private[graft] object GenStore {

  /** The one cell of a flat state: a generation-first root publishes a
    * whole generation as one directory.
    */
  val Flat = 0L

  /** A generation-keyed data root: its data columns and inner partition
    * columns, laid out `<dir>/<name>/gen=N/<inner>=…/` — or, CELL-MAJOR,
    * `<dir>/<name>/<inner>=…/gen=N/` with the first inner partition as
    * the manifest's cell. Every column is a long except the vectors
    * (`qv`, `vb`: array<long>) and tokens (`tok`: string), which types
    * both the stored data columns ([[dataSchema]]) and a relation for a
    * snapshot with no generations ([[empty]]).
    */
  case class Root(name: String, data: Seq[String], inner: Seq[String] = Nil,
      cellMajor: Boolean = false) {
    def cols: Seq[String] = data ++ inner

    private def ddl(cs: Seq[String]): String = cs.map {
      case c @ ("qv" | "vb") => s"$c ARRAY<BIGINT>"
      case "tok" => "tok STRING"
      case c => s"$c BIGINT"
    }.mkString(", ")

    /** The stored data columns as a DDL schema. */
    def dataSchema: String = ddl(data)

    def empty(s: SparkSession): DataFrame =
      s.createDataFrame(java.util.List.of[Row](),
        StructType.fromDDL(ddl(data ++ ("gen" +: inner))))

    /** The committed leaves of `cells` as a partition-pruning predicate:
      * the live generations, or for a cell-major root a disjunction over
      * cells, each restricting `gen` to that cell's generations.
      * References only partition columns, so Catalyst turns it into
      * directory pruning — uncommitted or superseded generation
      * directories are never even listed into the scan.
      */
    def committed(cells: Map[Long, Seq[Long]]): Column =
      if (!cellMajor) col("gen").isin(cells.values.flatten.toSeq.distinct: _*)
      else cells.toSeq.sortBy(_._1).map { case (c, gens) =>
        if (gens.isEmpty) lit(false)
        else col(inner.head) === c && col("gen").isin(gens: _*)
      }.foldLeft(lit(false))(_ || _)
  }

  /** The generation of a `gen=` directory. */
  def genOf(p: Path): Long = p.getName.stripPrefix("gen=").toLong

  /** The `gen=` directories under a cell directory, through any further
    * inner partition levels. Metadata only.
    */
  def genLeaves(f: FileSystem, p: Path): Seq[Path] =
    f.listStatus(p).toSeq.filter(_.isDirectory).map(_.getPath).flatMap(c =>
      if (c.getName.startsWith("gen=")) Seq(c)
      else if (c.getName.contains("=")) genLeaves(f, c)
      else Nil)

  /** The state before a flat build's first commit. */
  val Fresh = Snap(epoch = 0L, gens = Nil, tombs = Nil, ingested = Set.empty,
    ingestLow = 0L, nextInternal = -1L)

  /** The payload a written file holds: Flock's 524,288-byte payload
    * batch. A generation is written as about (its bytes / this) files.
    */
  val PayloadBytes = 524288L

  /** `rows` coalesced to one partition per [[PayloadBytes]] of payload
    * (at least one; a partition is written as one file per directory),
    * or None when there is no row. One Spark job sizes them, so `rows`
    * should be checkpointed.
    */
  def sized(rows: DataFrame): Option[DataFrame] = {
    val Seq(bytes) = sums(rows, rowBytes(rows))
    if (bytes == 0) None
    else Some(rows.coalesce(((bytes + PayloadBytes - 1) / PayloadBytes).toInt))
  }

  /** The payload bytes of one row of `df`: 8 per fixed-width column,
    * 8 per array element, the UTF-8 bytes of a string.
    */
  def rowBytes(df: DataFrame): Column =
    df.schema.fields.map { f => f.dataType match {
      case a: ArrayType => size(col(f.name)) * a.elementType.defaultSize
      case StringType => octet_length(col(f.name))
      case _ => lit(8)
    }}.map(_.cast("long")).reduce(_ + _)

  /** The column sums `cols` (long) over `df`, in ONE Spark job and no
    * exchange: each partition sums its rows, the driver adds the
    * partials.
    */
  def sums(df: DataFrame, cols: Column*): Seq[Long] = {
    val n = cols.length
    df.select(cols.map(_.cast("long")): _*).queryExecution.toRdd
      .mapPartitions { it =>
        val acc = new Array[Long](n)
        it.foreach(r => (0 until n).foreach(i => acc(i) += r.getLong(i)))
        Iterator(acc)
      }.fold(new Array[Long](n))((a, b) => a.lazyZip(b).map(_ + _))
      .toSeq
  }

}

/** The flat stores' side of [[GenStore]]: the [[FlatManifest]] state,
  * generation-first roots, a whole-store compaction plan (fold every
  * live row into one generation when a tombstone hits or more than one
  * generation is live) and the per-generation report.
  */
private[graft] abstract class FlatStore extends GenStore {
  import GenStore._

  private[graft] type S = Snap
  protected def manifest: FlatManifest.type = FlatManifest

  /** The epoch-1 state of a build whose `write0` wrote generation 0. */
  protected def built(write0: => Set[Long]): Snap =
    Fresh.next(cells = write0.map(_ -> Seq(0L)).toMap)

  /** One row (n_before, n_removed, n_gens_before, n_after, compacted)
    * over the counted root: both counts in one pass ([[GenStore.sums]]),
    * the generation count from the manifest.
    */
  protected def plan(s: SparkSession, dir: String, snap: Snap,
      counted: DataFrame, dead: Set[Long]): (DataFrame, Set[Long]) = {
    import s.implicits._
    val Seq(nBefore, nRemoved) = sums(counted, lit(1L),
      col(rowKey).isInCollection(dead).cast("long"))
    val doFold = nRemoved > 0 || snap.gens.length > 1
    (Seq((nBefore, nRemoved, snap.gens.length.toLong, nBefore - nRemoved,
        if (doFold) 1L else 0L))
      .toDF("n_before", "n_removed", "n_gens_before", "n_after",
        "compacted"),
      if (doFold) Set(Flat) else Set.empty)
  }

  /** Per-generation live occupancy of the committed snapshot: (gen
    * [internal generations read as 0], n_codes) over the counted root,
    * plus the (-1, total-live) rollup — the flat sibling of the
    * index's splitReport.
    */
  def genReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = FlatManifest.read(s, dir)
    val per = mask(s, dir, snap, rel(s, dir, snap, countedRoot(s, dir, snap))
        .withColumn("lgen",
          when($"gen" <= 0, 0L).otherwise($"gen".cast("long"))))
      .groupBy($"lgen".as("gen"))
      .agg(count(lit(1)).as("n_codes"))
    per.unionByName(per.agg(coalesce(sum($"n_codes"), lit(0L))
        .as("n_codes"))
      .select(lit(-1L).as("gen"), $"n_codes"))
      .orderBy($"gen")
  }

  /** Checkpoint `rows` (a fold's live rows, a build's corpus); `write`
    * them [[GenStore.sized]] unless empty.
    */
  protected def writeLive(rows: DataFrame)(write: DataFrame => Set[Long])
      : Set[Long] =
    sized(rows.localCheckpoint(true)).fold(Set.empty[Long])(write)

}

/** The shape both binary stores share: a `codes` root (vec_id, w0, w1
  * plus its inner partition), tombstones by vec_id, and the
  * full-precision refine tier `vectors/gen=N/` (vec_id, qv, `extra`…).
  * A generation is published as a few parquet files per root, each
  * holding about [[GenStore.PayloadBytes]] of rows sorted by vec_id
  * ([[writeTiers]]): a micro-batch add is one codes file and one vectors
  * file, a build or a fold enough files to scan in parallel. The refine
  * fetch filters the live generations' vectors by the shortlist ids,
  * which parquet's row-group statistics prune on the sorted files.
  */
private[graft] abstract class BinaryGenStore(protected val codes: GenStore.Root,
    extra: Seq[String]) extends FlatStore {
  import GenStore._

  protected val vecRoot = Root("vectors", Seq("vec_id", "qv") ++ extra)
  protected val roots = Seq(codes, vecRoot)
  protected val tombKey = "vec_id"

  override protected def ingestRows(dir: String, snap: Snap,
      batch: DataFrame): DataFrame =
    batch.select(vecRoot.data.map(col): _*)

  /** Pack and commit `newVecs` as caller generation `gen` (> 0),
    * exactly-once ([[GenStore]]).
    */
  def addBatch(s: SparkSession, dir: String, newVecs: DataFrame,
      gen: Long): Unit = ingest(s, dir, newVecs, gen)

  /** The LIVE codes (vec_id, w0, w1 and the inner partition) of the
    * committed snapshot — what a serve ranks in stage 1.
    */
  def liveCodes(s: SparkSession, dir: String): DataFrame =
    live(s, dir, FlatManifest.read(s, dir))

  /** Publish [[GenStore.sized]] `rows` (vec_id, qv, …) as generation
    * `gen`: their codes (`codesOf`) and their vectors, one file per
    * partition and directory, sorted by vec_id.
    */
  protected def writeTiers(dir: String, rows: DataFrame, gen: Long)(
      codesOf: DataFrame => DataFrame): Set[Long] = {
    def sorted(root: Root, df: DataFrame) = writeRoot(root, dir,
      df.sortWithinPartitions((root.inner :+ "vec_id").map(col): _*), gen)
    sorted(codes, codesOf(rows)) ++
      sorted(vecRoot, rows.select(vecRoot.data.map(col): _*))
  }

  /** The (vec_id, qv) rows a `shortlist` (…, neighbor, …) can refine
    * against: the live generations' vectors filtered by the shortlist's
    * ids (collected on the driver — a batch's queries × width), a filter
    * parquet pushes down to the row-group statistics of the sorted
    * files.
    */
  private[graft] def refineFetch(s: SparkSession, dir: String, snap: Snap,
      shortlist: DataFrame): DataFrame = {
    import s.implicits._
    val ids = shortlist.select($"neighbor").distinct().as[Long].collect()
    rel(s, dir, snap, vecRoot).filter($"vec_id".isInCollection(ids))
      .select($"vec_id", $"qv")
  }

  /** Generation `g`'s serving rows for the cached serve: its vectors
    * (vec_id, qv) with their 1-bit code (w0, w1). The code is a pure
    * function of `qv` (every write packs it from the same rows), so one
    * read of the generation's directory, with its schema, serves both
    * stages without a join.
    */
  protected def servingVectors(s: SparkSession, dir: String,
      g: Long): DataFrame =
    VectorOps.binaryCodes(s.read.schema("vec_id BIGINT, qv ARRAY<BIGINT>")
      .parquet(s"$dir/${vecRoot.name}/gen=$g"))

  /** The relation [[servingVectors]] types, with no rows. */
  protected def noVectors(s: SparkSession): DataFrame =
    VectorOps.binaryCodes(vecRoot.empty(s).select("vec_id", "qv"))

  /** A query batch (query_id, q_qv, qw0, qw1) on the driver, for
    * [[PinnedTopK.codes]].
    */
  protected def codeQueries(queries: DataFrame): Seq[PinnedTopK.CodeQuery] = {
    val s = queries.sparkSession
    import s.implicits._
    queries.select($"query_id", $"q_qv", $"qw0", $"qw1")
      .as[(Long, Array[Long], Long, Long)].collect().toSeq
      .map { case (id, qv, w0, w1) => PinnedTopK.CodeQuery(id, qv, w0, w1) }
  }

  /** The ranked top-k of a refined stage. */
  protected def topK(refined: DataFrame, k: Int): DataFrame = {
    val s = refined.sparkSession
    import s.implicits._
    refined.filter($"rrank" <= k)
      .select($"query_id", $"rrank".as("rank"), $"neighbor", $"dist")
      .orderBy($"query_id", $"rank")
  }
}
