package graft.operators

import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, GraftInternal, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The ONE serving cache of the persisted stores ([[BinaryStore]],
  * [[IvfIndex]]): what a cached serve reuses from one
  * call to the next, keyed by what never changes once committed.
  *
  *   - A data GENERATION is immutable from its commit until a compaction
  *     folds it (flat `gen=N` roots; for the index a posting generation
  *     together with the cells that still reference it). Its serving rows
  *     are pinned under a key naming exactly that, so an add pins only its
  *     new generation and leaves every other pin as it was.
  *   - A tombstone set `del=N` is immutable too: its ids are held on the
  *     driver and masked out at serve time as an id filter, so a delete
  *     changes only the mask. The mask is bounded by the delete volume
  *     between compactions (the bound the broadcast anti-join of the
  *     uncached serve relies on as well).
  *   - Versioned metadata (centroid tables, PQ codebooks) is held on the
  *     driver under its version key.
  *
  * Pinning is LAZY: a pin persists its rows (memory, spilling to disk)
  * without running a job, and the first serve job that scans them
  * materializes them. A serve names the keys of its snapshot and
  * [[retain]] drops every other entry of the directory; a compaction
  * calls it right after its commit, so the generations it folded are
  * unpinned before any later serve, and the next serve pins its output
  * once; a build drops every entry of its directory
  * ([[ManifestProtocol.prepareBuildDir]]), because a rebuild restarts
  * epochs and generation ids. Every pin and every held id set is read
  * from the committed files.
  *
  * Keys are (directory, key) strings, the directory fully qualified
  * (`/x`, `/x/` and `file:/x` are one directory). A rebuild by ANOTHER
  * process is not seen: its epochs and generation ids look like the
  * ones pinned here, so this process serves its old entries until it
  * builds the directory itself or its application ends. The cache
  * follows one SparkContext and forgets everything when its
  * application ends, so it never holds a stopped session's relations.
  */
private[graft] object ServingCache {

  private sealed trait Entry
  private final case class Pinned(df: DataFrame, rows: RDD[_]) extends Entry
  private final case class Held(value: Any) extends Entry

  /** The application the entries belong to (id and start time). */
  private var app: Option[String] = None
  private var listening: Option[String] = None
  private val byDir = mutable.Map[String, mutable.Map[String, Entry]]()

  private def appOf(sc: SparkContext) = s"${sc.applicationId}@${sc.startTime}"

  /** Registered on the owning context: its end releases every entry. */
  private[graft] object OnEnd extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit =
      ServingCache.synchronized {
        byDir.values.flatMap(_.values).foreach(e =>
          scala.util.Try(unpin(e)))
        byDir.clear()
        app = None
      }
  }

  /** `dir` fully qualified: one key for every spelling of a directory. */
  private def qualified(s: SparkSession, dir: String): String =
    FlatManifest.fs(s, dir).makeQualified(new Path(dir)).toString

  private def entries(s: SparkSession, dir: String)
      : mutable.Map[String, Entry] = {
    val sc = s.sparkContext
    val id = appOf(sc)
    if (!app.contains(id)) {
      byDir.clear()
      app = Some(id)
    }
    if (!listening.contains(id)) {
      sc.addSparkListener(OnEnd)
      listening = Some(id)
    }
    byDir.getOrElseUpdate(qualified(s, dir), mutable.Map.empty)
  }

  private def unpin(e: Entry): Unit = e match {
    case Pinned(_, rows) => rows.unpersist(blocking = false)
    case _ =>
  }

  /** The entry under `key`, made outside the lock on a miss. */
  private def lookup(s: SparkSession, dir: String, key: String)(
      make: => Entry): Entry =
    synchronized(entries(s, dir).get(key)).getOrElse {
      val made = make
      synchronized {
        val m = entries(s, dir)
        m.get(key) match {
          case Some(e) => unpin(made); e
          case None => m(key) = made; made
        }
      }
    }

  /** `rows` pinned under `key`: persisted lazily in at most one
    * partition per core (a generation's many small files would otherwise
    * cost a task each on every serve), read back as a relation over the
    * pinned blocks.
    */
  def relation(s: SparkSession, dir: String, key: String)(
      rows: => DataFrame): DataFrame =
    lookup(s, dir, key) {
      val df = rows
      val pinned = df.queryExecution.toRdd
        .coalesce(s.sparkContext.defaultParallelism).map(_.copy())
        .setName(s"serving $dir $key")
        .persist(StorageLevel.MEMORY_AND_DISK)
      Pinned(GraftInternal.rowsDataFrame(s, pinned, df.schema), pinned)
    } match { case Pinned(df, _) => df; case e => sys.error(s"$key: $e") }

  /** A driver-side value held under `key`. */
  def value[T](s: SparkSession, dir: String, key: String)(v: => T): T =
    lookup(s, dir, key)(Held(v)) match {
      case Held(x) => x.asInstanceOf[T]
      case e => sys.error(s"$key: $e")
    }

  def delKey(t: Long): String = s"del=$t"

  /** The ids of the committed tombstone sets `dels` (column `column`
    * under `<dir>/tombstones/del=N/`), each read once.
    */
  def tombstones(s: SparkSession, dir: String, column: String,
      dels: Seq[Long]): Set[Long] =
    dels.flatMap { t =>
      value[Set[Long]](s, dir, delKey(t)) {
        import s.implicits._
        s.read.schema(s"$column BIGINT")
          .parquet(s"$dir/${FlatManifest.TombRoot}/del=$t")
          .as[Long].collect().toSet
      }
    }.toSet

  /** The leaf directories `dirs` of one index posting generation (one
    * `cid=C/gen=G` directory per cell) read with `schema`, partition
    * columns discovered below `basePath`, in groups no larger than the
    * session's parallel-discovery threshold, so the driver lists each
    * group itself (one read of more directories would start a listing
    * job per pin). A flat store's generation is one directory, read
    * directly.
    */
  def readDirs(s: SparkSession, schema: String, dirs: Seq[String],
      basePath: String): DataFrame = {
    val n = s.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold")
      .toInt
    dirs.grouped(math.max(1, n)).map { g =>
      s.read.schema(schema).option("basePath", basePath).parquet(g: _*)
    }.reduce(_ unionByName _)
  }

  /** `df` without the rows whose `column` is in `dead`. */
  def mask(df: DataFrame, column: String, dead: Set[Long]): DataFrame =
    if (dead.isEmpty) df else df.filter(!col(column).isInCollection(dead))

  /** Drop every entry of `dir` whose key is not in `live`. */
  def retain(s: SparkSession, dir: String, live: Set[String]): Unit =
    synchronized {
      val m = entries(s, dir)
      m.keys.filterNot(live).toList.foreach(k => m.remove(k).foreach(unpin))
    }

  /** Drop every entry of `dir` (a build). */
  def drop(s: SparkSession, dir: String): Unit = retain(s, dir, Set.empty)

  /** Whether any entry is held. */
  private[graft] def holdsAny: Boolean = synchronized(byDir.values.exists(_.nonEmpty))

  /** The keys held for `dir`. */
  private[graft] def keys(s: SparkSession, dir: String): Set[String] =
    synchronized(entries(s, dir).keySet.toSet)

  /** The ids of the RDDs pinned for `dir`. */
  private[graft] def pinnedRdds(s: SparkSession, dir: String): Set[Int] =
    synchronized(entries(s, dir).values.collect {
      case Pinned(_, rows) => rows.id }.toSet)
}
