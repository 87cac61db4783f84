package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The cached serves' top-k over pinned rows ([[ServingCache]]) as one
  * Spark job: every partition keeps a bounded best-k per query, and the
  * driver merges the collected partials and ranks (REPOSE's
  * per-partition top-k plus one merge). The query batch is a driver
  * array (a serving batch is bounded; the uncached serves broadcast it
  * too), and each scan is a tight loop over the pinned
  * rows: no per-pair row, no per-pair aggregator call, and the exact
  * distance of a binary candidate is computed only when it enters a
  * partition's best `width`. Rows and order equal the stores' uncached
  * serves (spec-pinned); the orders are the total ones those serves
  * rank by.
  */
private[graft] object PinnedTopK {

  /** The k least (a, b) long pairs offered, each with a long payload,
    * kept sorted. Insertion is O(k), and after the first few hundred
    * offers nearly every candidate is rejected by one comparison.
    */
  private final class Best(k: Int) {
    val a = new Array[Long](k)
    val b = new Array[Long](k)
    val p = new Array[Long](k)
    var n = 0

    def admits(x: Long, y: Long): Boolean =
      n < k || x < a(n - 1) || (x == a(n - 1) && y < b(n - 1))

    def add(x: Long, y: Long, payload: Long): Unit = {
      var i = if (n < k) n else n - 1
      while (i > 0 && (x < a(i - 1) || (x == a(i - 1) && y < b(i - 1)))) {
        a(i) = a(i - 1); b(i) = b(i - 1); p(i) = p(i - 1)
        i -= 1
      }
      a(i) = x; b(i) = y; p(i) = payload
      if (n < k) n += 1
    }

    def offer(x: Long, y: Long, payload: Long): Unit =
      if (admits(x, y)) add(x, y, payload)
  }

  private def sqDist(v: ArrayData, q: Array[Long]): Long = {
    var s = 0L
    var i = 0
    val n = math.min(v.numElements(), q.length)
    while (i < n) {
      val d = v.getLong(i) - q(i)
      s += d * d
      i += 1
    }
    s
  }

  private def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType, nullable = false)))

  /** One job over `rows`: `scan` fills partition-local partials (each an
    * Array[Long]; at most queries × best-k per partition), the driver
    * collects them and `merge` turns them into output rows of `schema`,
    * ordered — a local relation, so reading it starts no further job.
    */
  private def gather(s: SparkSession, rows: RDD[InternalRow],
      schema: StructType)(scan: Iterator[InternalRow] => Iterator[Array[Long]])(
      merge: Iterator[Array[Long]] => Iterator[Row]): DataFrame =
    s.createDataFrame(
      merge(rows.mapPartitions(scan).collect().iterator).toSeq.asJava, schema)

  /** A binary-code query: id, vector, and its two code words. */
  final case class CodeQuery(id: Long, qv: Array[Long], w0: Long, w1: Long)

  /** The two-stage binary serve over pinned (vec_id, qv, w0, w1) rows:
    * each query's `width` best by (Hamming distance, neighbor) — the
    * q191 shortlist order — then its top `k` of those by (exact
    * distance, neighbor). Every query sees every row. Returns
    * (query_id, rank, neighbor, dist).
    */
  def codes(s: SparkSession, live: DataFrame, queries: Seq[CodeQuery],
      k: Int, width: Int): DataFrame = {
    val qs = queries.toArray
    val rows = live.select("vec_id", "qv", "w0", "w1").queryExecution.toRdd
    gather(s, rows, longs("query_id", "rank", "neighbor", "dist")) { it =>
      val best = Array.fill(qs.length)(new Best(width))
      it.foreach { r =>
        val id = r.getLong(0)
        val w0 = r.getLong(2)
        val w1 = r.getLong(3)
        var j = 0
        while (j < qs.length) {
          val q = qs(j)
          if (id != q.id) {
            val ham = (java.lang.Long.bitCount(w0 ^ q.w0) +
              java.lang.Long.bitCount(w1 ^ q.w1)).toLong
            if (best(j).admits(ham, id))
              best(j).add(ham, id, sqDist(r.getArray(1), q.qv))
          }
          j += 1
        }
      }
      best.iterator.zipWithIndex.flatMap { case (h, j) =>
        (0 until h.n).map(i => Array(j.toLong, h.a(i), h.b(i), h.p(i))) }
    } { parts =>
      val best = Array.fill(qs.length)(new Best(width))
      parts.foreach(e => best(e(0).toInt).offer(e(1), e(2), e(3)))
      qs.indices.sortBy(j => qs(j).id).iterator.flatMap { j =>
        val h = best(j)
        val refined = new Best(k)
        (0 until h.n).foreach(i => refined.offer(h.p(i), h.b(i), 0L))
        (0 until refined.n).map(i => Row(qs(j).id, (i + 1).toLong,
          refined.b(i), refined.a(i)))
      }
    }
  }

  /** The IVF serve over pinned (vec_id, payload, cid) postings: each
    * query's top `k` by (score, neighbor) over the cells it probes —
    * `probing(cid)` gives (query index, probe slot) pairs — where the
    * score of a posting for a query is `score(row, query, slot)`. Each
    * hit carries its cell's live posting count. Returns (query_id, rank,
    * neighbor, `scoreName`, cell_size).
    */
  def cells(s: SparkSession, live: DataFrame, queryIds: Array[Long],
      payload: String, k: Int, scoreName: String,
      probing: Long => Array[(Int, Int)])(
      score: (InternalRow, Int, Int) => Long): DataFrame = {
    val rows = live.select("vec_id", payload, "cid").queryExecution.toRdd
    gather(s, rows,
        longs("query_id", "rank", "neighbor", scoreName, "cell_size")) { it =>
      val best = Array.fill(queryIds.length)(new Best(k))
      val sizes = scala.collection.mutable.Map[Long, Long]()
      it.foreach { r =>
        val id = r.getLong(0)
        val cid = r.getLong(2)
        sizes(cid) = sizes.getOrElse(cid, 0L) + 1L
        probing(cid).foreach { case (j, slot) =>
          if (id != queryIds(j)) best(j).offer(score(r, j, slot), id, cid)
        }
      }
      best.iterator.zipWithIndex.flatMap { case (h, j) =>
        (0 until h.n).map(i => Array(j.toLong, h.a(i), h.b(i), h.p(i)))
      } ++ sizes.iterator.map { case (c, n) => Array(-1L, c, n) }
    } { parts =>
      val best = Array.fill(queryIds.length)(new Best(k))
      val sizes = scala.collection.mutable.Map[Long, Long]()
      parts.foreach { e =>
        if (e(0) < 0) sizes(e(1)) = sizes.getOrElse(e(1), 0L) + e(2)
        else best(e(0).toInt).offer(e(1), e(2), e(3))
      }
      queryIds.indices.sortBy(queryIds(_)).iterator.flatMap { j =>
        val h = best(j)
        (0 until h.n).map(i => Row(queryIds(j), (i + 1).toLong,
          h.b(i), h.a(i), sizes(h.p(i))))
      }
    }
  }

  /** Squared distance of a pinned `qv` (ordinal `ord`) to `q`. */
  def dist(r: InternalRow, ord: Int, q: Array[Long]): Long =
    sqDist(r.getArray(ord), q)
}
