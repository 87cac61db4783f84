package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The state every committed manifest carries, whatever the store
  * layout: the epoch, the committed tombstone-set ids in effect at it
  * (snapshot-scoped — a time-travel read never sees a later delete),
  * the ingest watermark, and the next internal generation id.
  *
  * The ingest watermark is what turns at-least-once `foreachBatch`
  * recovery into exactly-once store contents. Ingest generations are
  * caller-named (the streaming sink uses batchId + 1), and the
  * manifest records which have committed as a BOUNDED structure:
  * `ingestLow` is the high-water mark below which EVERY generation is
  * committed (the contiguous prefix), and `ingested` holds only the
  * out-of-order generations ABOVE it. A sequential writer keeps
  * `ingested` permanently empty and the manifest O(1) in stream length
  * (the one-long-per-batch-forever set this replaces was rewritten
  * into every manifest and re-parsed per serve trigger). A replayed
  * ingest of a committed generation is a metadata no-op even if
  * compaction has since folded that generation away. Documented
  * at-least-once window: a generation at or below the mark is treated
  * as already ingested even if the caller never committed it —
  * callers must name generations monotonically (the sink does) or
  * accept that skipped ids below the mark cannot be back-filled.
  *
  * `nextInternal` hands out negative generation ids for compaction and
  * split outputs — sign-disjoint from caller generations, so an ingest
  * replay can never clobber folded data.
  *
  * `cells` is the committed data: the live generations per cell — the
  * index's `cell=` map, or a flat store's one generation list as the
  * single cell [[GenStore.Flat]].
  */
private[graft] trait ManifestState[S] {
  def epoch: Long
  def tombs: Seq[Long]
  def ingested: Set[Long]
  def ingestLow: Long
  def nextInternal: Long
  def cells: Map[Long, Seq[Long]]
  protected def evolve(epoch: Long, tombs: Seq[Long], ingested: Set[Long],
      ingestLow: Long, nextInternal: Long, cells: Map[Long, Seq[Long]]): S

  /** The state to commit as the next epoch, with the given parts
    * replaced.
    */
  def next(tombs: Seq[Long] = this.tombs,
      nextInternal: Long = this.nextInternal,
      cells: Map[Long, Seq[Long]] = this.cells): S =
    evolve(epoch + 1, tombs, ingested, ingestLow, nextInternal, cells)

  /** Is `gen` an already-committed ingest generation (replay = no-op)? */
  def committedIngest(gen: Long): Boolean =
    gen <= ingestLow || ingested.contains(gen)

  /** Record `gen` as committed, advancing the contiguous mark through
    * any previously-parked out-of-order generations it unblocks.
    */
  def withIngested(gen: Long): S = {
    var set = ingested + gen
    var low = ingestLow
    while (set.contains(low + 1)) { low += 1; set -= low }
    evolve(epoch, tombs, set, low, nextInternal, cells)
  }
}

/** The ONE manifest control plane of every persisted store —
  * [[IvfIndex]] (through `IvfIndex.IndexManifest`) and the flat stores
  * on [[FlatManifest]] ([[BinaryStore]], [[IvfBinaryStore]],
  * [[MaxSimStore]]), all running the one generation lifecycle of
  * [[GenStore]]. Reference lifecycle:
  * `flock/src/datasource` keeps sources immutable; mutability here is
  * the standard manifest-pointer table design. A store kind supplies
  * only what differs — its body keys ([[layout]], [[body]],
  * [[decode]]); naming, listing, parsing, commit, retention, the
  * time-travel window check ([[readAt]], which runs the store's
  * data-existence check), build-dir preparation and the ingest
  * watermark ([[ManifestState]]) live here once, and the one GC
  * (data, tombstone sets, temp manifests) in [[GenStore]].
  *
  * == State machine ==
  * Every mutation follows write-new-files -> commit-manifest ->
  * garbage-collect, in that order:
  *   1. New data lands ONLY in directories no committed manifest
  *      references (a fresh generation, tombstone set, centroid or
  *      codebook version).
  *   2. The manifest for epoch N+1 is written to `.manifest-tmp-<N+1>`
  *      and RENAMED to `manifest-<N+1>` — the atomic commit point, a
  *      single small-file publish (atomic on HDFS/local; a single PUT
  *      on an object store, where rename is a copy), with the rename
  *      return value checked and the optimistic-concurrency guard of
  *      [[commit]] in front of it.
  *   3. Only after the commit may GC ([[GenStore]]'s `vacuum`) reclaim
  *      what no RETAINED manifest references.
  * The highest committed epoch IS the store.
  *
  * == Crash argument ==
  * A crash ANYWHERE before step 2 leaves the highest committed manifest
  * pointing at exactly the old directories: readers keep serving the
  * old snapshot and never observe partial state, because every read
  * filters the data roots to the manifest's committed generation set
  * (pushed as a partition-pruning predicate), so orphaned uncommitted
  * files are invisible. A crash after step 2 leaves at worst
  * unreferenced garbage for the next GC. Data directories are never
  * rewritten in place: every store publishes a generation by renames
  * out of one tmp directory ([[GenStore]]) — one for a flat store's
  * generation, one per cell leaf for the index's cell-major postings —
  * that precede the commit, so on an object store the copies they
  * become are still invisible until the manifest names them, and a
  * crash between the renames leaves an uncommitted generation the next
  * attempt replaces or GC reclaims.
  * All control-plane I/O goes through the Hadoop [[FileSystem]] bound
  * to the session's configuration, so the same code runs against
  * local fs, HDFS, or an object store.
  *
  * == Retention ==
  * `spark.graft.index.retainEpochs` ([[retainEpochs]]) is the ONE
  * time-travel window for every manifest store, so a deployment that
  * raises it protects its sidecar tiers with the same setting that
  * protects the index. 1 (the default) = latest snapshot only: every
  * mutation's GC may immediately reclaim what the new manifest no
  * longer references, the minimal-footprint posture. A deployment that
  * serves time-travel reads raises it BEFORE the mutations whose
  * pre-state must stay servable; GC then protects everything any
  * retained manifest references. One spare manifest FILE beyond the
  * window survives for torn-read recovery, but its data is not
  * protected — it is recovery metadata, not a snapshot guarantee.
  *
  * == File format ==
  * One `key=value` line per entry, in the store's fixed [[layout]]
  * order; id lists are sorted and comma-joined. The shared keys are
  * `tombs`, `ingest_low`, `ingested` and `next_internal`.
  */
private[graft] abstract class ManifestProtocol(noun: String) {
  type S <: ManifestState[S]

  /** The store's manifest keys in file order, shared keys included. */
  protected def layout: Seq[String]

  /** The values of body key `key` for `snap`, one line each (none
    * omits the key).
    */
  protected def body(snap: S, key: String): Seq[String]

  /** Rebuild a snapshot from the shared state and the body entries. */
  protected def decode(where: String, epoch: Long, shared: Shared,
      body: Seq[(String, String)]): S

  /** The shared entries of a parsed manifest. */
  protected case class Shared(tombs: Seq[Long], ingested: Set[Long],
      ingestLow: Long, nextInternal: Long)

  private val SharedKeys = Set("tombs", "ingested", "ingest_low",
    "next_internal")
  private val RetainKey = "spark.graft.index.retainEpochs"
  private[graft] val TombRoot = "tombstones"

  def fs(s: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(s.sparkContext.hadoopConfiguration)

  /** How many trailing epochs' DATA the store guarantees readable (see
    * Retention above) — the only reader of the key.
    */
  def retainEpochs(s: SparkSession): Int =
    math.max(1, s.conf.get(RetainKey, "1").toInt)

  /** Run `body` with the retention window set to `n`, restoring the
    * previous setting after.
    */
  def withRetention[A](s: SparkSession, n: Int)(body: => A): A = {
    val prev = s.conf.getOption(RetainKey)
    s.conf.set(RetainKey, n.toString)
    try body
    finally prev.fold(s.conf.unset(RetainKey))(s.conf.set(RetainKey, _))
  }

  protected def ids(xs: Iterable[Long]): String = xs.toSeq.sorted.mkString(",")

  protected def longs(v: String): Seq[Long] =
    if (v.isEmpty) Seq.empty else v.split(",").map(_.toLong).toSeq

  private def manifestName(epoch: Long) = f"manifest-$epoch%09d"

  private def epochOf(p: Path) = p.getName.stripPrefix("manifest-").toLong

  private[graft] def toText(snap: S): String =
    layout.flatMap { k =>
      val vs = k match {
        case "tombs" => Seq(ids(snap.tombs))
        case "ingested" => Seq(ids(snap.ingested))
        case "ingest_low" => Seq(snap.ingestLow.toString)
        case "next_internal" => Seq(snap.nextInternal.toString)
        case _ => body(snap, k)
      }
      vs.map(v => s"$k=$v\n")
    }.mkString

  private[graft] def fromText(where: String, epoch: Long, text: String): S = {
    val kv = text.linesIterator.map(_.trim).filter(_.nonEmpty).map { ln =>
      val Array(k, v) = ln.split("=", 2)
      if (!layout.contains(k)) throw new IllegalStateException(
        s"unknown $noun manifest key '$k' in $where")
      k -> v
    }.toSeq
    def last(k: String) = kv.reverseIterator.collectFirst { case (`k`, v) => v }
    decode(where, epoch, Shared(
        tombs = last("tombs").fold(Seq.empty[Long])(longs),
        ingested = last("ingested").fold(Set.empty[Long])(longs(_).toSet),
        ingestLow = last("ingest_low").fold(0L)(_.toLong),
        nextInternal = last("next_internal").fold(-1L)(_.toLong)),
      kv.filterNot(e => SharedKeys(e._1)))
  }

  private def parse(s: SparkSession, dir: String, p: Path): S = {
    val in = fs(s, dir).open(p)
    val text =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    fromText(p.toString, epochOf(p), text)
  }

  private def manifestPaths(f: FileSystem, dir: String): Seq[Path] = {
    val found = f.globStatus(new Path(dir, "manifest-*"))
    if (found == null) Seq.empty else found.map(_.getPath).toSeq
  }

  /** The latest committed snapshot: one glob plus one open. */
  def read(s: SparkSession, dir: String): S = {
    val paths = manifestPaths(fs(s, dir), dir)
    require(paths.nonEmpty, s"no committed manifest under $dir — not an " +
      s"existing $noun (or build crashed pre-commit)")
    parse(s, dir, paths.maxBy(epochOf))
  }

  /** The snapshot committed AS OF `epoch` — the time-travel read. Fails
    * loudly if that epoch's manifest has been retired by the retention
    * window, and ALSO if the snapshot's referenced data no longer
    * physically exists: the window check runs against the CURRENT conf,
    * which can be raised after a narrower window's GC already reclaimed
    * the epoch's directories. A pruned scan over missing directories
    * would silently return partial results, so `verifyData`
    * existence-checks every referenced path (store-layout-specific)
    * before any serve plans against the snapshot.
    */
  def readAt(s: SparkSession, dir: String, epoch: Long)(
      verifyData: S => Unit): S = {
    val p = new Path(dir, manifestName(epoch))
    require(fs(s, dir).exists(p),
      s"$noun $dir has no readable epoch $epoch — outside the retention " +
        s"window ($RetainKey) or never committed")
    val snap = parse(s, dir, p)
    val latest = read(s, dir)
    require(latest.epoch - epoch < retainEpochs(s),
      s"epoch $epoch of $dir is outside the retained data window " +
        s"(latest ${latest.epoch}, retainEpochs ${retainEpochs(s)}) — " +
        "its manifest file survives for recovery but its data may be " +
        s"GC'd; raise $RetainKey before mutating")
    verifyData(snap)
    snap
  }

  /** The retained snapshots — every epoch whose DATA the current
    * retention window guarantees. GC protects exactly their union.
    */
  def retained(s: SparkSession, dir: String): Seq[S] = {
    val paths = manifestPaths(fs(s, dir), dir)
    require(paths.nonEmpty, s"no committed manifest under $dir")
    val latest = paths.map(epochOf).max
    paths.filter(epochOf(_) > latest - retainEpochs(s))
      .map(p => parse(s, dir, p))
  }

  /** Publish a snapshot: temp write + checked rename (step 2), guarded
    * by an OPTIMISTIC CONCURRENCY check — the snapshot being committed
    * must still succeed the latest committed epoch, and the destination
    * must not already exist. Without the guard, two mutations racing
    * from the same base epoch (say a manual [[IvfIndex.splitCells]]
    * against a live ingest stream) would both rename to the same
    * manifest name, and POSIX rename REPLACES the destination silently:
    * the loser's commit — and with it, e.g., an ingested generation's
    * validity — would vanish while its data files remain, a lost update
    * no reader could detect. With the guard, every non-overlapping race
    * fails LOUDLY on the late committer (retry = re-read + re-apply);
    * truly simultaneous commits additionally need a conditional-put /
    * lock primitive, exactly as for every manifest-pointer table format
    * — the stores assume one logical writer and turn violations into
    * errors instead of corruption.
    *
    * Superseded manifests beyond the retention window (plus one spare)
    * are deleted — redundant once a newer epoch exists, but keeping a
    * spare makes a torn read of the newest file recoverable by hand.
    */
  def commit(s: SparkSession, dir: String, snap: S): Unit = {
    val f = fs(s, dir)
    val tmp = new Path(dir, s".manifest-tmp-${snap.epoch}")
    val out = f.create(tmp, true)
    try out.write(toText(snap).getBytes("UTF-8"))
    finally out.close()
    val committed = manifestPaths(f, dir)
    val latest = if (committed.isEmpty) 0L else committed.map(epochOf).max
    val dest = new Path(dir, manifestName(snap.epoch))
    if (latest >= snap.epoch || f.exists(dest)) {
      f.delete(tmp, false)
      throw new java.util.ConcurrentModificationException(
        s"$noun $dir: epoch ${snap.epoch} is stale (latest committed " +
          s"$latest) — a concurrent mutation won the race; re-read and " +
          "re-apply")
    }
    require(f.rename(tmp, dest),
      s"manifest commit failed: rename $tmp -> $dest returned false")
    manifestPaths(f, dir)
      .filter(epochOf(_) < snap.epoch - retainEpochs(s))
      .foreach(p => f.delete(p, false))
  }

  /** Prepare a build's target directory. A build OWNS its directory,
    * but "owns" must not mean "silently destroys whatever path the
    * caller mistyped": the wipe only proceeds when the directory is
    * absent, empty, or recognizably this store's artifact set (every
    * child is a manifest file or satisfies `known`) — anything else
    * fails loudly before a byte is deleted. Every build path (flat,
    * raw, PQ, labeled, clone) comes through here, so this is also where
    * the directory's [[ServingCache]] entries are dropped: a rebuild
    * restarts epochs and generation ids, which a cache keyed by them
    * would mistake for the state it pinned.
    */
  def prepareBuildDir(s: SparkSession, dir: String)(
      known: String => Boolean): Unit = {
    val f = fs(s, dir)
    val p = new Path(dir)
    if (f.exists(p)) {
      val foreign = f.listStatus(p).map(_.getPath.getName).filterNot { n =>
        n.startsWith("manifest-") || n.startsWith(".manifest-tmp-") ||
          n == "_SUCCESS" || n == TombRoot || known(n)
      }
      require(foreign.isEmpty,
        s"refusing to build into $dir: it contains non-$noun content " +
          s"(${foreign.take(5).mkString(", ")}) — builds wipe their " +
          s"target, so the target must be empty or an existing $noun")
      f.delete(p, true)
    }
    f.mkdirs(p)
    ServingCache.drop(s, dir)
  }
}

/** The manifest of the FLAT (cell-less) stores — [[BinaryStore]],
  * [[IvfBinaryStore]] (codes + bucketed vectors) and [[MaxSimStore]]
  * (chunks + postings + df partials): the data is one generation list
  * (`gens`) per snapshot instead of a per-cell map. Protocol, crash
  * argument and retention: [[ManifestProtocol]]; the generation
  * lifecycle the stores run on it (write, commit, mask, compact, GC,
  * the serving cache): [[GenStore]], its only writer.
  */
private[graft] object FlatManifest extends ManifestProtocol("store") {
  type S = Snap

  /** One committed flat-store state; `gens` is the live generation list. */
  case class Snap(epoch: Long, gens: Seq[Long], tombs: Seq[Long],
      ingested: Set[Long], ingestLow: Long, nextInternal: Long)
      extends ManifestState[Snap] {
    def cells: Map[Long, Seq[Long]] = Map(GenStore.Flat -> gens)
    protected def evolve(epoch: Long, tombs: Seq[Long], ingested: Set[Long],
        ingestLow: Long, nextInternal: Long, cells: Map[Long, Seq[Long]]) =
      Snap(epoch, cells.getOrElse(GenStore.Flat, Nil), tombs, ingested,
        ingestLow, nextInternal)
  }

  protected val layout =
    Seq("gens", "tombs", "ingest_low", "ingested", "next_internal")

  protected def body(snap: Snap, key: String) = Seq(ids(snap.gens))

  protected def decode(where: String, epoch: Long, sh: Shared,
      body: Seq[(String, String)]): Snap = {
    val gens = body.collect { case ("gens", v) => longs(v) }.lastOption
    require(gens.isDefined, s"manifest $where names no generation list")
    Snap(epoch, gens.get, sh.tombs, sh.ingested, sh.ingestLow,
      sh.nextInternal)
  }
}

/** Scratch directories for catalog entries that build a store as part
  * of their run. Paths are FIXED per (process, name): stable across
  * repeated runs of an entry in one JVM (benchmark sweeps, Verify; the
  * builds wipe and rebuild — no accumulation), but suffixed with the
  * Spark application id so two CONCURRENT processes (say a driver
  * Verify beside a builder's local run) can never serve each other's
  * half-written store — the round-12 advice finding on the previously
  * shared literal paths.
  */
private[graft] object Scratch {
  def dir(s: SparkSession, name: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_${s.sparkContext.applicationId}/$name"
}
