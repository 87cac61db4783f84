package graft.flockbench

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}
import graft.sources.Nexmark
import graft.sources.Nexmark.Bid
import graft.streaming.StreamOps
import graft.streaming.StreamOps.{CdcEvent, CdcRow, DocEvent}

/** Four StreamOps pipelines fed from MemoryStreams: NEXMark q5 hopping
  * counts, q11 session counts, CDC apply and the ingest pipeline. A
  * stream round pushes one micro-batch into each and waits until every
  * query has processed it.
  */
object StreamNexmark {

  val BidsPerRound = 10000
  val DocsPerRound = 1000
  val Eps = 1000L
  val Watermark = "2 seconds"
  /** Bidder and auction id of the flush bids; no generated bid has it. */
  val FlushKey = -1
  val MaxFlushes = 8

  final case class Inputs(bids: IndexedSeq[Seq[Bid]], cdc: IndexedSeq[Seq[CdcEvent]],
      docs: IndexedSeq[Seq[DocEvent]])

  private val Vocab: IndexedSeq[String] =
    (graft.functions.LangId.StopWords.values.flatten.toSeq ++
      (0 until 400).map(i => s"w$i")).distinct.toIndexedSeq

  /** Seeded inputs for `n` rounds. Bids are NEXMark events (person :
    * auction : bid = 1 : 3 : 46) from an id range the seed selects, in
    * event-time order; CDC changes are derived from every fifth bid;
    * docs are word salad over the four stopword lists plus filler words,
    * with some too short for the quality filter and some exact
    * duplicates inside their round.
    */
  def inputs(seed: Long, n: Int): Inputs = {
    var id = Math.floorMod(seed, 97L) * 10000000L
    val bids = IndexedSeq.fill(n) {
      val b = Array.newBuilder[Bid]
      var k = 0
      while (k < BidsPerRound) {
        if (Nexmark.kindOf(id) == 2) { b += Nexmark.genBid(id, Eps); k += 1 }
        id += 1
      }
      b.result().toSeq
    }
    val cdc = bids.zipWithIndex.map { case (bs, r) =>
      bs.zipWithIndex.collect { case (b, i) if i % 5 == 0 =>
        val seq = r.toLong * BidsPerRound + i
        CdcEvent(b.auction.toLong % 3000, b.b_date_time, seq,
          if (b.price % 7 == 0) "delete" else "upsert", s"${b.bidder}:${b.price}")
      }
    }
    var docId = Math.floorMod(seed, 97L) * 10000000L
    val docs = bids.zipWithIndex.map { case (bs, r) =>
      val rng = new scala.util.Random(seed * 1000003L + r)
      val t0 = bs.head.b_date_time.getTime
      val span = bs.last.b_date_time.getTime - t0
      val out = Array.newBuilder[DocEvent]
      var made = Vector.empty[DocEvent]
      (0 until DocsPerRound).foreach { i =>
        val ts = new Timestamp(t0 + span * i / DocsPerRound)
        docId += 1
        val d =
          if (made.nonEmpty && rng.nextInt(20) == 0) {
            val src = made(rng.nextInt(made.length))
            DocEvent(docId, src.ts, src.text)
          } else {
            val nTok = if (rng.nextInt(10) == 0) 1 + rng.nextInt(2) else 3 + rng.nextInt(40)
            val words = Seq.fill(nTok - 1)(Vocab(rng.nextInt(Vocab.length)))
            DocEvent(docId, ts, (words :+ s"u$docId").mkString(" "))
          }
        made = made :+ d
        out += d
      }
      out.result().toSeq.sortBy(_.ts.getTime)
    }
    Inputs(bids, cdc, docs)
  }

  final class Pipes(spark: SparkSession) {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    // q5 and q11 read the same bids, but a MemoryStream trims what one
    // reader commits, so each query gets its own copy of the stream
    val bidsA = MemoryStream[Bid]
    val bidsB = MemoryStream[Bid]
    val changes = MemoryStream[CdcEvent]
    val docs = MemoryStream[DocEvent]
    val queries: Seq[(String, StreamingQuery)] = Seq(
      "q5" -> StreamOps.toMemory(StreamOps.hoppingCounts(bidsA.toDF(),
        "10 seconds", "5 seconds", Watermark), "fb_q5", OutputMode.Append),
      "q11" -> StreamOps.toMemory(StreamOps.sessionCounts(bidsB.toDF(),
        "10 seconds", Watermark), "fb_q11", OutputMode.Append),
      "cdc" -> StreamOps.toMemory(StreamOps.cdcApplyStream(changes.toDS()).toDF(),
        "fb_cdc", OutputMode.Update),
      "ingest" -> StreamOps.toMemory(StreamOps.ingestPipelineStream(docs.toDS(),
        Watermark), "fb_ingest", OutputMode.Append))

    def push(in: Inputs, r: Int): Unit = {
      bidsA.addData(in.bids(r))
      bidsB.addData(in.bids(r))
      changes.addData(in.cdc(r))
      docs.addData(in.docs(r))
      queries.foreach(_._2.processAllAvailable())
    }
    /** One untimed micro-batch into the append-mode pipelines. */
    def flush(bid: Bid, doc: DocEvent): Unit = {
      bidsA.addData(Seq(bid))
      bidsB.addData(Seq(bid))
      docs.addData(Seq(doc))
      queries.filter(_._1 != "cdc").foreach(_._2.processAllAvailable())
    }
    def stop(): Unit = queries.foreach(q => try q._2.stop() catch { case _: Throwable => () })
  }

}

/** The stream half of a run: starts the pipelines, runs rounds, reads
  * their progress, and checks what they emitted.
  */
final class StreamRig(ctx: Ctx, in: StreamNexmark.Inputs) {
  import StreamNexmark._
  private val t = ctx.tracer
  private var p: Pipes = _

  def start(): Unit = p = t.span("stream_start") { new Pipes(ctx.spark) }
  def stop(): Unit = if (p != null) p.stop()

  def round(r: Int): Double = t.span("stream_round", isOp = true) {
    val t0 = System.nanoTime()
    ctx.attempt(s"stream round $r")(p.push(in, r))
    ctx.attempted += 1
    (System.nanoTime() - t0) / 1e6
  }

  /** Data batches of each query from batch `first` on (idle triggers
    * report progress too).
    */
  private def progress(first: Int) = p.queries.map { case (n, q) =>
    n -> q.recentProgress.toSeq.filter(pr => pr.batchId >= first && pr.numInputRows > 0) }

  /** Median trigger time of each pipeline over batches `first` on. */
  def triggerMs(first: Int): Seq[(String, Double)] = progress(first).map { case (n, prs) =>
    n -> Stats.median(prs.map(_.batchDuration.toDouble)) }

  /** Trigger spans under the traced units, from the progress reports,
    * and the streaming and state layers averaged per timed round.
    */
  def traceMetrics(units: Seq[Span], first: Int, nRounds: Int): Unit = {
    progress(0).foreach { case (n, prs) => prs.foreach { pr =>
      val start = java.time.Instant.parse(pr.timestamp).toEpochMilli.toDouble
      val parent = t.innermost(start + 0.5, t.named("stream_round"))
      if (parent >= 0) {
        val id = t.add(s"trigger/$n", start, start + pr.batchDuration, parent)
        var at = start
        Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
            "walCommit", "commitOffsets").foreach { k =>
          val d = Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)
          if (d > 0) { t.add(s"trigger/$n/$k", at, at + d, id); at += d }
        }
      }
    } }
    triggerMs(first).foreach { case (n, ms) => ctx.layer(s"streaming.trigger_ms.$n", ms, "ms") }
    val timed = progress(first).flatMap(_._2)
    val per = math.max(1, nRounds).toDouble
    def dur(keys: String*) = timed.map(pr => keys.map(k =>
      Option(pr.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)).sum).sum / per
    ctx.layer("streaming.add_batch_ms", dur("addBatch"), "ms")
    ctx.layer("streaming.query_planning_ms", dur("queryPlanning"), "ms")
    ctx.layer("streaming.wal_ms", dur("walCommit", "commitOffsets"), "ms")
    ctx.layer("streaming.source_ms", dur("latestOffset", "getBatch"), "ms")
    val ops = timed.flatMap(_.stateOperators.toSeq)
    def st(f: org.apache.spark.sql.streaming.StateOperatorProgress => Long) =
      ops.map(o => f(o).toDouble).sum / per
    val last = p.queries.flatMap(_._2.lastProgress.stateOperators.toSeq)
    ctx.layer("state.rows_total", last.map(_.numRowsTotal.toDouble).sum, "count")
    ctx.layer("state.rows_updated", st(_.numRowsUpdated), "count")
    ctx.layer("state.rows_removed", st(_.numRowsRemoved), "count")
    ctx.layer("state.memory_bytes", last.map(_.memoryUsedBytes.toDouble).sum, "bytes")
    ctx.layer("state.commit_ms", st(_.commitTimeMs), "ms")
    ctx.layer("state.dropped_late", ops.map(_.numRowsDroppedByWatermark.toDouble).sum, "count")
  }

  /** Untimed: every pipeline's emitted rows against a batch recomputation
    * over the same events. The append-mode pipelines emit a window or
    * session some triggers after it closes, so the check first pushes
    * flush micro-batches — one bid of a bidder and auction that never
    * occur, and one one-token doc, an hour past the last event and an
    * hour apart — until every window and session of the real events has
    * been emitted (at most `MaxFlushes`), then compares exactly.
    */
  def verify(total: Int): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val par = spark.sparkContext.defaultParallelism
    val allBids = spark.sparkContext.parallelize(in.bids.take(total).flatten, par).toDF()
    val allDocs = spark.sparkContext.parallelize(in.docs.take(total).flatten, par).toDF()
    def rows(df: DataFrame): Set[Seq[Any]] = df.collect().map(_.toSeq).toSet
    // the ingest chain in batch form: exact dedup, quality bounds (3 to
    // 1000 tokens), the stopword vote, then 10-second window counts
    val kept = allDocs.dropDuplicates("text")
      .withColumn("toks", split($"text", "\\s+"))
      .withColumn("n_tokens", size($"toks"))
      .filter($"n_tokens".between(3, 1000))
    val windows = Map(
      "q5" -> rows(StreamOps.hoppingCounts(allBids, "10 seconds", "5 seconds", Watermark)),
      "q11" -> rows(StreamOps.sessionCounts(allBids, "10 seconds", Watermark)),
      "ingest" -> rows(graft.functions.LangId.withScores(kept)
        .withColumn("predicted", graft.functions.LangId.vote)
        .groupBy(window($"ts", "10 seconds"), $"predicted")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
        .select($"window.start".as("w_start"), $"predicted", $"n_docs", $"sum_tokens")))
    def got(name: String): Set[Seq[Any]] = rows(spark.table(s"fb_$name") match {
      case t if name == "q5" => t.filter($"auction" =!= FlushKey)
      case t if name == "q11" => t.filter($"bidder" =!= FlushKey)
      case t => t
    })
    val last = in.bids(total - 1).last.b_date_time.getTime
    var flushes = 0
    while (flushes < MaxFlushes && windows.exists { case (n, w) => got(n) != w }) {
      flushes += 1
      val ts = new Timestamp(last + flushes * 3600000L)
      p.flush(Bid(FlushKey, FlushKey, 0, ts), DocEvent(-flushes.toLong, ts, "flush"))
    }
    ctx.log(s"verify: $flushes flush batches")
    windows.foreach { case (n, w) =>
      val g = got(n)
      ctx.check(w.nonEmpty && g == w, s"$n: ${g.size} rows emitted after $flushes flushes, " +
        s"${(g -- w).size} not in the batch result, ${(w -- g).size} missing")
    }
    // CDC: the latest emitted row per key is the key's net state, which
    // is its change with the greatest (ts, seq)
    val emitted = spark.table("fb_cdc").as[CdcRow].collect().groupBy(_.key)
      .map { case (k, rs) => k -> rs.maxBy(r => (r.ts.getTime, r.seq)) }
    val want = in.cdc.take(total).flatten.groupBy(_.key).map { case (k, es) =>
      val e = es.maxBy(e => (e.ts.getTime, e.seq))
      k -> CdcRow(k, e.ts, e.seq, e.payload, e.op == "delete")
    }
    ctx.check(want.nonEmpty && emitted == want, s"cdc: ${emitted.size} keys emitted, " +
      s"${want.size} expected, ${emitted.count { case (k, r) => want.get(k) != Some(r) }} differ")
  }
}
