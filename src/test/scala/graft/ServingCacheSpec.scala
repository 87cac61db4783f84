package graft

import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd,
  SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import graft.operators.{BinaryStore, IvfIndex, ServingCache, VectorOps}

/** The per-generation serving cache under the stores' cached serves:
  * cached rows (and their order) equal the uncached serve after every
  * kind of commit, a cached serve runs a constant number of Spark jobs,
  * a compaction unpins what it folded, a rebuild of the same directory
  * (under any spelling of its path) is never served from the old
  * build's entries, and an ended
  * application leaves nothing pinned.
  */
class ServingCacheSpec extends SparkSpec {

  /** A clustered 64-dim corpus: ids 0..15 (the index's seed centroids)
    * fall in distinct clusters; `shift` moves every cluster, so two
    * builds from different shifts route differently.
    */
  private def corpus(seed: Long, ids: Range, shift: Long = 0L)
      : Seq[(Long, Seq[Long])] = {
    val rng = new scala.util.Random(seed)
    val centers = Array.fill(16)(Array.fill(64)(rng.nextInt(2001) - 1000L))
    ids.map(i => (i.toLong, centers(i % 16).toSeq
      .map(x => x + shift + rng.nextInt(401) - 200L)))
  }

  private def df(rows: Seq[(Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "qv")
  }

  private val base = corpus(1, 0 until 768)
  private val adds = Seq(corpus(2, 2000 until 2064), corpus(3, 3000 until 3064))
  private val deletes = Seq(3L, 17L, 40L, 2001L, 511L, 700L)
  // new vectors plus stored ids (a stored query id never ranks itself)
  private val queries = df(corpus(4, 1000000 until 1000012) ++
    base.filter(r => Set(5L, 300L, 2L).contains(r._1)))

  private def binQueries(q: DataFrame): DataFrame =
    VectorOps.binaryCodes(q).select(col("vec_id").as("query_id"),
      col("qv").as("q_qv"), col("w0").as("qw0"), col("w1").as("qw1"))

  /** One store under test: its lifecycle and its two serve paths. */
  private case class Store(name: String, build: (DataFrame, String) => Unit,
      add: (String, DataFrame, Long) => Unit, delete: (String, DataFrame) => Unit,
      compact: String => Unit, cached: String => DataFrame,
      uncached: String => DataFrame)

  private val stores = Seq(
    Store("BinaryStore", BinaryStore.build,
      (d, v, g) => BinaryStore.addBatch(spark, d, v, g),
      (d, ids) => BinaryStore.delete(spark, d, ids),
      d => BinaryStore.compact(spark, d),
      d => BinaryStore.serve(spark, d, binQueries(queries), 5, cached = true),
      d => BinaryStore.serve(spark, d, binQueries(queries), 5)),
    Store("IvfIndex raw", (e, d) => IvfIndex.build(e, d),
      (d, v, g) => IvfIndex.addBatch(spark, d, v, g),
      (d, ids) => IvfIndex.delete(spark, d, ids),
      d => IvfIndex.compact(spark, d),
      d => IvfIndex.serveCached(spark, d, queries),
      d => IvfIndex.serve(spark, d, queries)),
    Store("IvfIndex PQ", (e, d) => IvfIndex.buildPq(e, d),
      (d, v, g) => IvfIndex.addBatchPq(spark, d, v, g),
      (d, ids) => IvfIndex.delete(spark, d, ids),
      d => IvfIndex.compact(spark, d),
      d => IvfIndex.servePqCached(spark, d, queries),
      d => IvfIndex.servePq(spark, d, queries)))

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_serving_$name").toString

  /** `body`'s result and the number of Spark jobs it started. */
  private def jobsOf[A](body: => A): (A, Seq[String]) = {
    val sc = spark.sparkContext
    GraftTestBus.drain(sc)
    val n = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        n.add(e.stageInfos.map(_.name).mkString("+"))
    }
    sc.addSparkListener(l)
    try {
      val a = body
      GraftTestBus.drain(sc)
      (a, n.toArray.toSeq.map(_.toString))
    } finally sc.removeSparkListener(l)
  }

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Serve `st` both ways: the cached serve's job count stays within the
    * bound and its rows, in order, equal the uncached serve's.
    */
  private def check(st: Store, d: String, step: String): Seq[Row] = {
    val (got, jobs) = jobsOf(st.cached(d).collect().toSeq)
    val want = st.uncached(d).collect().toSeq
    assert(got.nonEmpty, s"${st.name} $step: empty serve")
    assert(got == want, s"${st.name} $step: cached rows differ from uncached")
    assert(jobs.size <= 4,
      s"${st.name} $step: cached serve ran ${jobs.size} jobs: $jobs")
    got
  }

  test("cached serve equals uncached in <= 4 jobs through every kind of commit") {
    withIndexRetention(2) {
      stores.foreach { st =>
        val d = tmp(st.name.replace(' ', '_'))
        st.build(df(base), d)
        st.add(d, df(adds(0)), 1L)
        check(st, d, "after add")
        st.delete(d, { import spark.implicits._; deletes.toDF("vec_id") })
        val masked = check(st, d, "after delete")
        assert(!masked.exists(r => deletes.contains(r.getLong(2))),
          s"${st.name}: a deleted id was served")
        assert(ServingCache.keys(spark, d).exists(_.startsWith("del=")))
        st.compact(d)
        // the fold retired the tombstones and minted a negative generation
        check(st, d, "after compact")
        assert(!ServingCache.keys(spark, d).exists(_.startsWith("del=")),
          s"${st.name}: tombstones still held after compaction")
        assert(ServingCache.keys(spark, d).exists(_.startsWith("gen=-")),
          s"${st.name}: no internal generation pinned: ${ServingCache.keys(spark, d)}")
        st.add(d, df(adds(1)), 2L)
        check(st, d, "after second add")
      }
    }
  }

  test("a compaction unpins every generation it folds") {
    withIndexRetention(2) {
      stores.foreach { st =>
        val d = tmp(s"mem_${st.name.replace(' ', '_')}")
        st.build(df(base), d)
        st.add(d, df(adds(0)), 1L)
        st.delete(d, { import spark.implicits._; deletes.toDF("vec_id") })
        st.cached(d).collect()
        val before = ServingCache.pinnedRdds(spark, d)
        assert(before.size == 2 && before.subsetOf(persisted),
          s"${st.name}: pinned $before")
        st.compact(d)
        // the compaction's output is pinned by the next serve, not before
        assert((ServingCache.pinnedRdds(spark, d) & before).isEmpty &&
          (before & persisted).isEmpty,
          s"${st.name}: superseded generations still persisted")
        st.cached(d).collect()
        // one pin per live generation; an index generation the fold
        // left in some cells is pinned again under its smaller cell set
        val after = ServingCache.pinnedRdds(spark, d)
        assert(after.nonEmpty && after.subsetOf(persisted) &&
          after.size == ServingCache.keys(spark, d).count(_.startsWith("gen=")),
          s"${st.name}: pinned ${ServingCache.keys(spark, d)} after the compaction")
        // the next build of the directory drops the rest
        st.build(df(base), d)
        assert(ServingCache.keys(spark, d).isEmpty && (after & persisted).isEmpty)
      }
    }
  }

  test("a rebuild of the same directory, however spelled, is never served from the old build") {
    stores.foreach { st =>
      val d = tmp(s"rebuild_${st.name.replace(' ', '_')}")
      st.build(df(base), d)
      check(st, d, "first build")
      // epoch 1 again, other vectors and (for the routed stores) other
      // centroids, and the directory named another way
      st.build(df(corpus(9, 0 until 768, shift = 300L)), s"file:$d/")
      assert(ServingCache.keys(spark, d).isEmpty,
        s"${st.name}: ${ServingCache.keys(spark, d)} survived the rebuild")
      check(st, d, "rebuild")
    }
  }

  // the benchmark's store shape: an 8,192-row build, 256-row adds,
  // 32-id deletes
  private val bench = corpus(5, 0 until 8192)
  private val benchAdd = corpus(6, 10000 until 10256)
  private val benchDel = (0L until 8192L by 256L) :+ 10003L

  test("the 8,192-row build's vectors pin to >= defaultParallelism partitions") {
    val d = tmp("bench_pin")
    BinaryStore.build(df(bench), d)
    stores.head.cached(d).collect()
    val Seq(pin) = ServingCache.pinnedRdds(spark, d).toSeq
    val parts = spark.sparkContext.getPersistentRDDs(pin).getNumPartitions
    assert(parts >= spark.sparkContext.defaultParallelism,
      s"generation 0 pinned in $parts partitions")
  }

  test("a bench-shaped BinaryStore compaction runs <= 8 jobs; cached equals uncached throughout") {
    withIndexRetention(2) {
      val st = stores.head
      val d = tmp("bench_compact")
      st.build(df(bench), d)
      check(st, d, "after build")
      st.add(d, df(benchAdd), 1L)
      check(st, d, "after add")
      st.delete(d, { import spark.implicits._; benchDel.toDF("vec_id") })
      check(st, d, "after delete")
      val (report, jobs) = jobsOf(BinaryStore.compact(spark, d).collect())
      assert(jobs.size <= 8, s"compaction ran ${jobs.size} jobs: $jobs")
      assert(report.map(_.toSeq) sameElements Seq(Seq(8448L, 33L, 2L, 8415L, 1L)),
        report.mkString(","))
      check(st, d, "after compact")
    }
  }

  test("IvfIndex.addBatch runs <= 7 jobs and leaves its report lazy") {
    val d = tmp("ivf_add_jobs")
    IvfIndex.build(df(bench), d)
    val (report, jobs) = jobsOf(IvfIndex.addBatch(spark, d, df(benchAdd), 1L))
    assert(jobs.size <= 7, s"addBatch ran ${jobs.size} jobs: $jobs")
    val rows = report.collect()
    assert(rows.length == 16 && rows.map(_.getAs[Long]("n_added")).sum == 256L &&
      rows.map(_.getAs[Long]("n_total")).sum == 8448L, rows.mkString(","))
  }

  test("an ended application leaves nothing pinned or held") {
    val st = stores.head
    val d = tmp("app_end")
    st.build(df(base), d)
    st.cached(d).collect()
    val pinned = ServingCache.pinnedRdds(spark, d)
    assert(pinned.nonEmpty && ServingCache.holdsAny)
    ServingCache.OnEnd.onApplicationEnd(SparkListenerApplicationEnd(0L))
    assert(!ServingCache.holdsAny && (pinned & persisted).isEmpty)
    check(st, d, "after the cache was released")
  }
}
