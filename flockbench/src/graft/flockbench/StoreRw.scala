package graft.flockbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.operators.{BinaryStore, IvfIndex, VectorOps}

/** Reads beside writes on two persisted stores: `BinaryStore` (the
  * FlatManifest family) and `IvfIndex` (its own manifest). A store round
  * is one serve op (a 64-query batch served from each store on the
  * cached path) then one write op (256 adds and 32 tombstones in each
  * store; every third write also compacts both).
  */
object StoreRw {

  val BaseN = 8192
  val Dim = 64
  val AddN = 256
  val DelN = 32
  val QueriesPerServe = 64
  val K = 10
  val CompactEvery = 3

  /** Writes 3, 6, 9, … compact. The cold round's write is write 1, so
    * timed rounds from the second on run whole cycles of three writes
    * with one compaction each.
    */
  def compacts(w: Int): Boolean = w % CompactEvery == 0

  final case class Write(adds: Seq[(Long, Array[Long])], deletes: Seq[Long])
  final case class Inputs(base: Seq[(Long, Array[Long])],
      serves: IndexedSeq[Seq[(Long, Array[Long])]], writes: IndexedSeq[Write]) {
    /** Ids live after the first `n` writes. */
    def liveAfter(n: Int): Set[Long] =
      writes.take(n).foldLeft(base.map(_._1).toSet) { (s, w) =>
        s ++ w.adds.map(_._1) -- w.deletes }
  }

  /** Seeded inputs for `rounds` rounds: a clustered base corpus, one
    * query batch and one write per round. Deletes pick ids live at the
    * time of their write, never the ones the same write adds.
    */
  def inputs(seed: Long, rounds: Int): Inputs = {
    val rng = new scala.util.Random(seed)
    // sixteen clusters, one per IVF cell; ids 0..15 (the index's seed
    // centroids) fall in distinct clusters
    val centers = Array.fill(16)(Array.fill(Dim)(rng.nextInt(2001) - 1000L))
    def vec(c: Int = rng.nextInt(centers.length)): Array[Long] =
      centers(c).map(x => x + rng.nextInt(401) - 200L)
    val base = (0 until BaseN).map(i => (i.toLong, vec(i % centers.length)))
    val live = mutable.ArrayBuffer[Long](base.map(_._1): _*)
    var next = BaseN.toLong
    val writes = (0 until rounds).map { _ =>
      val dels = (0 until DelN).map { _ =>
        val j = rng.nextInt(live.length)
        val id = live(j)
        live(j) = live.last
        live.remove(live.length - 1)
        id
      }
      val adds = (0 until AddN).map { _ => next += 1; (next, vec()) }
      live ++= adds.map(_._1)
      Write(adds, dels)
    }
    val serves = (0 until rounds).map { r =>
      (0 until QueriesPerServe).map(i =>
        (1000000000L + r.toLong * QueriesPerServe + i, vec()))
    }
    Inputs(base, serves, writes)
  }

  def vecs(s: SparkSession, v: Seq[(Long, Array[Long])]): DataFrame = {
    import s.implicits._
    v.toDF("vec_id", "qv")
  }

  def binQueries(q: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    VectorOps.binaryCodes(q).select(col("vec_id").as("query_id"),
      col("qv").as("q_qv"), col("w0").as("qw0"), col("w1").as("qw1"))
  }

  /** Every regular file under `dir`, with its size. */
  def listing(dir: String): Map[String, Long] = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) Map.empty
    else {
      val st = java.nio.file.Files.walk(root)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(p => java.nio.file.Files.isRegularFile(p))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally st.close()
    }
  }

  def genDirs(files: Iterable[String]): Int =
    files.flatMap(_.split("/").find(_.startsWith("gen="))).toSet.size

}

/** The store half of a run: builds both stores, runs serve and write
  * ops, lists the store directories when traced, and checks contents.
  */
final class StoreRig(ctx: Ctx, in: StoreRw.Inputs) {
  import StoreRw._
  private val s = ctx.spark
  private val t = ctx.tracer
  val binDir = s"${ctx.work}/stores/binary"
  val ivfDir = s"${ctx.work}/stores/ivf"

  val opMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  private def timed[T](name: String)(body: => T): T = t.span(name) {
    val t0 = System.nanoTime()
    val r = ctx.attempt(name)(body)
    opMs.getOrElseUpdate(name, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
    r
  }

  private var lastListing = Map.empty[String, Long]
  private val written = mutable.ArrayBuffer[Double]()
  private var genMax = 0
  private def list(): Map[String, Long] = {
    val (b, i) = (listing(binDir), listing(ivfDir))
    genMax = math.max(genMax, math.max(genDirs(b.keys), genDirs(i.keys)))
    b ++ i
  }

  def build(): Unit = {
    val base = vecs(s, in.base)
    timed("bin_build")(BinaryStore.build(base, binDir))
    timed("ivf_build")(IvfIndex.build(base, ivfDir))
    if (t.isActive) lastListing = list()
  }

  /** One serve op, timed. With `check`, the cached rows are then compared,
    * untimed, with the uncached serve of the same batch at the same epoch.
    */
  def serveOp(r: Int, check: Boolean = false): Double = {
    val q = vecs(s, in.serves(r))
    val (ms, bin, ivf) = t.span("serve", isOp = true) {
      val t0 = System.nanoTime()
      val bin = timed("bin_serve")(BinaryStore.serve(s, binDir, binQueries(q), K, cached = true).collect())
      val ivf = timed("ivf_serve")(IvfIndex.serveCached(s, ivfDir, q, probes = 2, k = K).collect())
      ctx.attempted += 1
      ((System.nanoTime() - t0) / 1e6, bin, ivf)
    }
    if (check) {
      ctx.check(bin.nonEmpty && bin.toSeq == BinaryStore.serve(s, binDir, binQueries(q), K)
        .collect().toSeq, s"round $r: binary store cached serve differs from the uncached serve")
      ctx.check(ivf.nonEmpty && ivf.toSeq == IvfIndex.serve(s, ivfDir, q, probes = 2, k = K)
        .collect().toSeq, s"round $r: ivf index cached serve differs from the uncached serve")
    }
    ms
  }

  def writeOp(w: Int): Double = {
    val ms = t.span("write", isOp = true) {
      val t0 = System.nanoTime()
      val wr = in.writes(w - 1)
      val adds = vecs(s, wr.adds)
      val dels = {
        import s.implicits._
        wr.deletes.toDF("vec_id")
      }
      timed("bin_add")(BinaryStore.addBatch(s, binDir, adds, w.toLong))
      timed("ivf_add")(IvfIndex.addBatch(s, ivfDir, adds, w.toLong))
      timed("bin_delete")(BinaryStore.delete(s, binDir, dels))
      timed("ivf_delete")(IvfIndex.delete(s, ivfDir, dels))
      if (compacts(w)) {
        timed("bin_compact")(BinaryStore.compact(s, binDir))
        timed("ivf_compact")(IvfIndex.compact(s, ivfDir))
      }
      ctx.attempted += 1
      (System.nanoTime() - t0) / 1e6
    }
    if (t.isActive) {
      val now = list()
      written += now.iterator.filter { case (f, n) => lastListing.get(f) != Some(n) }
        .map(_._2.toDouble).sum
      lastListing = now
    }
    ms
  }

  /** Store layers: per-op means over the traced timed ops, the builds,
    * and what the directory listings saw.
    */
  def traceMetrics(units: Seq[Span], writes: Int, writeMs: Seq[Double]): Unit = {
    def mean(name: String): Double = {
      val xs = t.all.filter(sp => sp.name == name &&
        units.exists(u => sp.start >= u.start && sp.end <= u.end)).map(_.ms)
      if (xs.isEmpty) 0.0 else xs.sum / xs.length
    }
    ctx.layer("store.bin_build_ms", opMs("bin_build").head, "ms")
    ctx.layer("store.ivf_build_ms", opMs("ivf_build").head, "ms")
    Seq("bin_serve", "ivf_serve", "bin_add", "ivf_add", "bin_delete",
      "ivf_delete", "bin_compact", "ivf_compact").foreach { n =>
      ctx.layer(s"store.${n}_ms", mean(n), "ms") }
    ctx.layer("store.compactions", (1 to writes).count(compacts).toDouble, "count")
    ctx.layer("store.write_p50_ms", Stats.median(writeMs), "ms")
    val userBytes = 2.0 * (AddN * (8 + Dim * 8) + DelN * 8)
    val perWrite = if (written.isEmpty) 0.0 else written.sum / written.length
    ctx.layer("store.bytes_written", perWrite, "bytes")
    ctx.layer("store.user_bytes", userBytes, "bytes")
    ctx.layer("store.write_amp", perWrite / userBytes, "ratio")
    val end = list()
    ctx.layer("store.files_live", end.size.toDouble, "count")
    ctx.layer("store.bytes_live", end.values.sum.toDouble, "bytes")
    ctx.layer("store.gen_dirs_max", genMax.toDouble, "count")
  }

  /** Untimed: live contents equal base + adds − tombstones in both
    * stores (the cached-serve check runs in the last serve op).
    */
  def verify(total: Int): Unit = {
    import s.implicits._
    val want = in.liveAfter(total)
    val bin = BinaryStore.liveCodes(s, binDir).select($"vec_id").as[Long].collect().toSet
    ctx.check(bin == want, s"binary store holds ${bin.size} live ids, " +
      s"${(bin -- want).size} unexpected, ${(want -- bin).size} missing")
    val ivf = IvfIndex.liveContents(s, ivfDir).select($"vec_id").as[Long].collect().toSet
    ctx.check(ivf == want, s"ivf index holds ${ivf.size} live ids, " +
      s"${(ivf -- want).size} unexpected, ${(want -- ivf).size} missing")
  }
}
