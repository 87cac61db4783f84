package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.FlatManifest.Snap

/** The ONE generation lifecycle of the flat stores ([[BinaryStore]],
  * [[IvfBinaryStore]], [[MaxSimStore]]) on [[FlatManifest]]. A store
  * supplies its generation-keyed [[Root]]s
  * (`<dir>/<root>/gen=N/<inner>=…/`), its tombstone key, how a batch
  * becomes one generation's files ([[writeGen]]), how the live rows
  * fold into the compacted generation ([[fold]]), and its serve plan.
  * Commit, retention and GC follow the [[ManifestProtocol]] state
  * machine: write new directories, commit the manifest, then collect.
  *
  *   - build ([[create]]): wipe a recognizable store directory (which
  *     drops its [[ServingCache]] entries: a rebuild restarts epochs and
  *     generation ids), write generation 0, commit epoch 1.
  *   - ingest ([[ingest]]): EXACTLY-ONCE under replay — a generation the
  *     manifest has already committed (even one a compaction has since
  *     folded) is a no-op; an EMPTY batch commits its id into the
  *     watermark without a file-less generation, so its replay is a
  *     no-op too. This is the idempotent-sink contract a streaming
  *     `foreachBatch` needs (the sink names generations batchId + 1).
  *   - delete: O(batch) append under `tombstones/del=<epoch>/`,
  *     committed as a snapshot-scoped set (a time-travel read never
  *     sees a later delete); an uncached serve masks with a broadcast
  *     anti-join, a cached one with the driver-held ids, both bounded by
  *     the delete volume between compactions.
  *   - compact: fold every live row into ONE internal generation with
  *     the tombstones applied physically, commit, GC. With no tombstone
  *     hit and one generation there is nothing to fold, but a pending
  *     mask still costs every serve, so a metadata-only commit retires
  *     it.
  *   - vacuum: the standalone GC of what no RETAINED manifest
  *     references.
  *
  * A generation writes plain into `<root>/.gen-tmp-<gen>` (the leading
  * dot hides it from partition discovery) and ONE directory rename
  * publishes it as `gen=<gen>` before the commit; a replay overwrites
  * its tmp dir and replaces a renamed but uncommitted generation, GC
  * sweeps the rest (the crash argument is [[ManifestProtocol]]'s). This
  * replaced dynamic-partition-overwrite writes, whose commit moved every
  * partition directory one by one on the driver: ~3× the write itself
  * for micro-batch generations (VERDICT.md, round 15: 64-bucket vectors
  * 1.0–2.0 s dyn-overwrite vs 0.4 s tmp+rename at 128 rows). Time
  * travel ([[snapAt]]) runs [[ManifestProtocol.readAt]]'s
  * data-existence check over every root and tombstone set.
  *
  * The serving cache is the shared per-generation [[ServingCache]]: a
  * cached serve ([[servingLive]]) re-reads the manifest (one small-file
  * open, so a concurrent commit is visible on the very next call) and
  * pins each committed generation once, under `gen=N`: an add pins only
  * its new generation, a delete adds one driver-held tombstone id set to
  * the serve-time mask, and a compaction unpins the generations it
  * folds right after its commit, so the next serve pins its output
  * once. Every pin is read from the committed files.
  */
private[graft] abstract class GenStore {
  import GenStore._

  /** The data roots; the first is the counted one (compaction stats,
    * [[genReport]], [[live]]).
    */
  protected def roots: Seq[Root]

  /** Non-generation directories a build owns beside the roots. */
  protected def fixedDirs: Set[String] = Set.empty

  /** The id column tombstones record, and the data column it masks. */
  protected def tombKey: String
  protected def rowKey: String = tombKey

  /** The columns of an ingested batch the store keeps. */
  protected def ingestRows(batch: DataFrame): DataFrame = batch

  /** Write `rows` as generation `gen` on top of `snap`. */
  protected def writeGen(dir: String, snap: Snap, rows: DataFrame,
      gen: Long): Unit

  /** Write the live rows as compaction output `gen` (`counted`: the
    * unmasked first root; `masked` applies the tombstones). False when
    * nothing is live.
    */
  protected def fold(dir: String, snap: Snap, counted: DataFrame,
      masked: DataFrame => DataFrame, gen: Long): Boolean

  // ---------- data plane ----------

  /** `root`'s rows (with `gen` and the inner partitions) in `snap`. */
  protected def rel(s: SparkSession, dir: String, snap: Snap,
      root: Root): DataFrame =
    if (snap.gens.isEmpty) root.empty(s)
    else s.read.parquet(s"$dir/${root.name}")
      .filter(col("gen").isin(snap.gens: _*))

  /** Publish `df` (without `gen`) as generation `gen` of `root`. */
  protected def writeRoot(root: Root, dir: String, df: DataFrame,
      gen: Long): Unit = {
    val f = FlatManifest.fs(df.sparkSession, dir)
    val tmp = new Path(s"$dir/${root.name}", s".gen-tmp-$gen")
    val w = df.write.mode(SaveMode.Overwrite)
    (if (root.inner.isEmpty) w else w.partitionBy(root.inner: _*))
      .parquet(tmp.toString)
    val dest = new Path(s"$dir/${root.name}", s"gen=$gen")
    if (f.exists(dest))
      require(f.delete(dest, true),
        s"stale uncommitted generation dir $dest could not be replaced")
    require(f.rename(tmp, dest),
      s"generation publish failed: rename $tmp -> $dest returned false")
  }

  private def tombstonesOf(s: SparkSession, dir: String,
      snap: Snap): Option[DataFrame] =
    if (snap.tombs.isEmpty) None
    else Some(s.read.parquet(s"$dir/${FlatManifest.TombRoot}")
      .filter(col("del").isin(snap.tombs: _*))
      .select(col(tombKey).as(rowKey)))

  /** `df` with `snap`'s tombstone mask applied. */
  protected def mask(s: SparkSession, dir: String, snap: Snap,
      df: DataFrame): DataFrame =
    tombstonesOf(s, dir, snap).fold(df)(t =>
      df.join(broadcast(t.distinct()), Seq(rowKey), "left_anti"))

  /** The live rows (data and inner partition columns) of the first root. */
  protected def live(s: SparkSession, dir: String, snap: Snap): DataFrame =
    mask(s, dir, snap, rel(s, dir, snap, roots.head)
      .select(roots.head.cols.map(col): _*))

  /** The latest snapshot, or the retained `epoch` (data-checked). */
  protected def snapAt(s: SparkSession, dir: String,
      epoch: Option[Long]): Snap =
    epoch.fold(FlatManifest.read(s, dir))(e =>
      FlatManifest.readAt(s, dir, e)(verifyData(s, dir)))

  private def verifyData(s: SparkSession, dir: String)(snap: Snap): Unit = {
    val f = FlatManifest.fs(s, dir)
    def gone(what: String): Nothing = throw new IllegalStateException(
      s"store $dir epoch ${snap.epoch}: $what no longer exists — its " +
        "data was GC'd under a narrower retention window")
    for (g <- snap.gens; r <- roots)
      if (!f.exists(new Path(s"$dir/${r.name}", s"gen=$g")))
        gone(s"${r.name} generation $g")
    snap.tombs.foreach { t =>
      if (!f.exists(new Path(s"$dir/${FlatManifest.TombRoot}", s"del=$t")))
        gone(s"tombstone set $t")
    }
  }

  // ---------- lifecycle ----------

  /** Build: `write0` writes generation 0 (and any [[fixedDirs]]). */
  protected def create(s: SparkSession, dir: String)(
      write0: => Unit): Unit = {
    FlatManifest.prepareBuildDir(s, dir)(roots.map(_.name).toSet ++ fixedDirs)
    write0
    FlatManifest.commit(s, dir, Fresh.copy(epoch = 1L, gens = Seq(0L)))
  }

  /** Exactly-once ingest of `batch` as caller generation `gen` (> 0). */
  private[graft] def ingest(s: SparkSession, dir: String, batch: DataFrame,
      gen: Long): Unit = {
    require(gen > 0L,
      s"ingest generations are caller-named positives (got $gen); " +
        "internal generations are negative by construction")
    val snap = FlatManifest.read(s, dir)
    if (snap.committedIngest(gen)) return
    val rows = ingestRows(batch).localCheckpoint(true)
    val next = snap.withIngested(gen).copy(epoch = snap.epoch + 1)
    if (rows.isEmpty) FlatManifest.commit(s, dir, next)
    else {
      writeGen(dir, snap, rows, gen)
      FlatManifest.commit(s, dir,
        next.copy(gens = (snap.gens :+ gen).distinct))
    }
  }

  /** Tombstone the rows whose [[tombKey]] is in `ids`. */
  def delete(s: SparkSession, dir: String, ids: DataFrame): Unit = {
    val batch = ids.select(col(tombKey).cast("long").as(tombKey))
      .localCheckpoint(true)
    if (batch.isEmpty) return
    val snap = FlatManifest.read(s, dir)
    val delId = snap.epoch + 1
    batch.withColumn("del", lit(delId))
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("del").parquet(s"$dir/${FlatManifest.TombRoot}")
    FlatManifest.commit(s, dir, snap.copy(epoch = delId,
      tombs = snap.tombs :+ delId))
  }

  /** Fold, commit, GC. Returns the one-row report (n_before, n_removed,
    * n_gens_before, n_after, compacted) over the counted root.
    */
  def compact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = FlatManifest.read(s, dir)
    val counted = rel(s, dir, snap, roots.head)
    val tomb = tombstonesOf(s, dir, snap)
      .map(_.distinct().localCheckpoint(true))
    val Array(stat) = counted
      .agg(count(lit(1)).as("n_before"),
        coalesce(countDistinct($"gen"), lit(0L)).as("n_gens"))
      .collect()
    val nBefore = stat.getLong(0)
    val nRemoved = tomb.fold(0L)(t =>
      counted.join(broadcast(t), rowKey).count())
    val doFold = nRemoved > 0 || snap.gens.length > 1
    if (doFold) {
      val newGen = snap.nextInternal
      val any = fold(dir, snap, counted, df => tomb.fold(df)(t =>
        df.join(broadcast(t), Seq(rowKey), "left_anti")), newGen)
      FlatManifest.commit(s, dir, snap.copy(epoch = snap.epoch + 1,
        gens = if (any) Seq(newGen) else Seq.empty,
        tombs = Nil, nextInternal = newGen - 1L))
      ServingCache.retain(s, dir, servingKeys(FlatManifest.read(s, dir)))
    } else if (snap.tombs.nonEmpty) {
      FlatManifest.commit(s, dir,
        snap.copy(epoch = snap.epoch + 1, tombs = Nil))
      ServingCache.retain(s, dir, servingKeys(FlatManifest.read(s, dir)))
    }
    gcSweep(s, dir)
    Seq((nBefore, nRemoved, stat.getLong(1), nBefore - nRemoved,
        if (doFold) 1L else 0L))
      .toDF("n_before", "n_removed", "n_gens_before", "n_after",
        "compacted")
  }

  /** Standalone GC sweep (the inline one runs after [[compact]]). */
  def vacuum(s: SparkSession, dir: String): DataFrame =
    FlatManifest.report(s, gcSweep(s, dir))

  /** [[FlatManifest.gc]] over the data roots: reclaims `gen=`
    * directories no retained manifest references, and `.gen-tmp-`
    * directories whose generation has committed (`tmp_gen_dirs`). Only
    * the TOP level of a root is generation-keyed, and that is the level
    * GC removes.
    */
  private def gcSweep(s: SparkSession, dir: String): Map[String, Long] =
    FlatManifest.gc(s, dir) { (f, snaps) =>
      val liveGens = snaps.flatMap(_.gens).toSet
      var orphanGens = 0L
      var tmpGens = 0L
      roots.map(r => new Path(dir, r.name)).filter(f.exists).foreach { rp =>
        f.listStatus(rp).filter(_.isDirectory).map(_.getPath).foreach { gd =>
          val n = gd.getName
          if (n.startsWith("gen=") &&
              !liveGens.contains(n.stripPrefix("gen=").toLong)) {
            require(f.delete(gd, true), s"gc failed to delete $gd")
            orphanGens += 1
          } else if (n.startsWith(".gen-tmp-")) {
            // a tmp dir survives only a crash between write and rename;
            // it is garbage once its generation is committed anywhere
            // (the committing replay wrote and renamed its OWN tmp)
            val g = n.stripPrefix(".gen-tmp-").toLong
            if (liveGens.contains(g) || snaps.exists(_.committedIngest(g))) {
              require(f.delete(gd, true), s"gc failed to delete $gd")
              tmpGens += 1
            }
          }
        }
      }
      Map("orphan_gen_dirs" -> orphanGens, "tmp_gen_dirs" -> tmpGens)
    }

  /** Per-generation live occupancy of the committed snapshot: (gen
    * [internal generations read as 0], n_codes) over the counted root,
    * plus the (-1, total-live) rollup — the flat sibling of the
    * index's splitReport.
    */
  def genReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val snap = FlatManifest.read(s, dir)
    val per = mask(s, dir, snap, rel(s, dir, snap, roots.head)
        .withColumn("lgen",
          when($"gen" <= 0, 0L).otherwise($"gen".cast("long"))))
      .groupBy($"lgen".as("gen"))
      .agg(count(lit(1)).as("n_codes"))
    per.unionByName(per.agg(coalesce(sum($"n_codes"), lit(0L))
        .as("n_codes"))
      .select(lit(-1L).as("gen"), $"n_codes"))
      .orderBy($"gen")
  }

  /** Checkpoint a fold's live `rows`; `write` them unless empty. */
  protected def writeLive(rows: DataFrame)(write: DataFrame => Unit)
      : Boolean = {
    val pinned = rows.localCheckpoint(true)
    val any = !pinned.isEmpty
    if (any) write(pinned)
    any
  }

  // ---------- serving cache ----------

  /** Store-level entries a cached serve keeps beside its generations. */
  protected def metaKeys: Set[String] = Set.empty

  /** Every [[ServingCache]] key the cached serve of `snap` uses. */
  private def servingKeys(snap: Snap): Set[String] =
    snap.gens.map(g => s"gen=$g").toSet ++
      snap.tombs.map(ServingCache.delKey) ++ metaKeys

  /** The live serving rows of `snap` from the [[ServingCache]]: each
    * generation's rows `pinGen(g)` pinned once, unioned (`empty` when
    * none is live), with the snapshot's tombstone ids masked out.
    */
  protected def servingLive(s: SparkSession, dir: String, snap: Snap,
      empty: => DataFrame)(pinGen: Long => DataFrame): DataFrame = {
    ServingCache.retain(s, dir, servingKeys(snap))
    val gens = snap.gens.map(g =>
      ServingCache.relation(s, dir, s"gen=$g")(pinGen(g)))
    ServingCache.mask(gens.reduceOption(_ unionByName _).getOrElse(empty),
      rowKey, ServingCache.tombstones(s, dir, tombKey, snap.tombs))
  }
}

private[graft] object GenStore {

  /** A generation-keyed data root `<dir>/<name>/gen=N/<inner>=…/`: its
    * data columns and inner partition columns. Every flat-store column
    * is a long except the vectors (`qv`, `vb`: array<long>) and tokens
    * (`tok`: string), which is all [[empty]] needs to type a relation
    * for a snapshot with no generations.
    */
  case class Root(name: String, data: Seq[String], inner: Seq[String] = Nil) {
    def cols: Seq[String] = data ++ inner

    def empty(s: SparkSession): DataFrame =
      s.range(0).select((data ++ ("gen" +: inner)).map {
        case c @ ("qv" | "vb") => array(col("id")).as(c)
        case "tok" => col("id").cast("string").as("tok")
        case c => col("id").as(c)
      }: _*)
  }

  /** The state before a build's first commit. */
  val Fresh = Snap(epoch = 0L, gens = Nil, tombs = Nil, ingested = Set.empty,
    ingestLow = 0L, nextInternal = -1L)

}

/** The shape both binary stores share: a `codes` root (vec_id, w0, w1
  * plus its inner partition), tombstones by vec_id, and the
  * full-precision refine tier `vectors/gen=N/bucket=B/` (vec_id, qv,
  * `extra`…) with B = vec_id mod [[Buckets]]. The refine fetch collects
  * the shortlist's bucket set (≤ 64 values, driver-bounded) and pushes
  * it as a partition filter, so a small serving batch reads a handful
  * of directories — the IvfIndex probe-list discipline on the refine
  * side.
  */
private[graft] abstract class BinaryGenStore(protected val codes: GenStore.Root,
    extra: Seq[String]) extends GenStore {
  import GenStore._

  /** Refine-side fan-out: vectors partition into this many id buckets. */
  val Buckets = 64L

  protected val vecRoot =
    Root("vectors", Seq("vec_id", "qv") ++ extra, Seq("bucket"))
  protected val roots = Seq(codes, vecRoot)
  protected val tombKey = "vec_id"

  override protected def ingestRows(batch: DataFrame): DataFrame =
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

  /** One file per bucket directory (the q156 small-files lesson). */
  protected def writeVectors(dir: String, rows: DataFrame, gen: Long): Unit =
    writeRoot(vecRoot, dir, rows.select(vecRoot.data.map(col) :+
        pmod(col("vec_id"), lit(Buckets)).as("bucket"): _*)
      .repartition(col("bucket")), gen)

  /** The (vec_id, qv) rows a `shortlist` (…, neighbor, …) can refine
    * against, bucket-pruned.
    */
  protected def refineFetch(s: SparkSession, dir: String, snap: Snap,
      shortlist: DataFrame): DataFrame = {
    import s.implicits._
    val buckets = shortlist
      .select(pmod($"neighbor", lit(Buckets)).as("bucket"))
      .distinct().as[Long].collect().toSeq
    rel(s, dir, snap, vecRoot).filter($"bucket".isin(buckets: _*))
      .select($"vec_id", $"qv")
  }

  /** Generation `g`'s serving rows for the cached serve: its vectors
    * (vec_id, qv) with their 1-bit code (w0, w1). The code is a pure
    * function of `qv` (every write packs it from the same rows), so one
    * read of the generation's bucket directories serves both stages
    * without a join.
    */
  protected def servingVectors(s: SparkSession, dir: String,
      g: Long): DataFrame = {
    val gd = new Path(s"$dir/${vecRoot.name}", s"gen=$g")
    val buckets = FlatManifest.fs(s, dir).listStatus(gd)
      .filter(_.isDirectory).map(_.getPath.toString).toSeq
    VectorOps.binaryCodes(ServingCache.readDirs(s,
      "vec_id BIGINT, qv ARRAY<BIGINT>", buckets).select("vec_id", "qv"))
  }

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
