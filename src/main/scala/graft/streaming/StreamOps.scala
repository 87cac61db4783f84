package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import java.sql.Timestamp
import graft.sources.Nexmark.Bid

/** Structured Streaming operators — the streaming half of the reference's
  * capability surface (SURVEY §2.9; window drivers in
  * /root/reference/flock-function/src/aws/window/). The reference assumes
  * in-order event time and has no watermark concept; Spark requires
  * watermarks for stateful append-mode queries, so every transform takes a
  * `watermark` delay — parity with the reference holds for in-order data
  * with any watermark ≥ 0 (SURVEY §7 hardness #5).
  *
  * Sinks: parquet path (reference S3 DataSink analog, datasink/mod.rs),
  * memory (test), noop (blackhole). Checkpoint location = state-backend
  * analog (state/mod.rs).
  */
object StreamOps {

  /** Rate-source-driven NEXMark bid stream: `rate` rows/sec = events/sec,
    * each row's value is the event id (deterministic regeneration —
    * mirrors the reference's "regenerate events inside the source
    * function" design, nexmark/source.rs:32-77).
    */
  def bidStream(spark: SparkSession, eventsPerSecond: Int): Dataset[Bid] = {
    import spark.implicits._
    spark.readStream.format("rate")
      .option("rowsPerSecond", eventsPerSecond.toString)
      .load()
      .select($"value")
      .as[Long]
      .filter((i: Long) => graft.sources.Nexmark.kindOf(i) == 2)
      .map((i: Long) => graft.sources.Nexmark.genBid(i, eventsPerSecond.toLong))
  }

  /** Rate-source auction stream (same per-id regeneration as bidStream). */
  def auctionStream(spark: SparkSession, eventsPerSecond: Int): Dataset[graft.sources.Nexmark.Auction] = {
    import spark.implicits._
    spark.readStream.format("rate")
      .option("rowsPerSecond", eventsPerSecond.toString)
      .load()
      .select($"value")
      .as[Long]
      .filter((i: Long) => graft.sources.Nexmark.kindOf(i) == 1)
      .map((i: Long) => graft.sources.Nexmark.genAuction(i, eventsPerSecond.toLong))
  }

  /** ElementWise analog: per-micro-batch projection, no state. */
  def elementwise(bids: DataFrame): DataFrame =
    bids.select(col("auction"), col("bidder"),
      (lit(0.908) * col("price")).as("price"), col("b_date_time"))

  /** Tumbling window counts (tumbling.rs analog). */
  def tumblingCounts(bids: DataFrame, window: String, watermark: String): DataFrame =
    bids.withWatermark("b_date_time", watermark)
      .groupBy(functions.window(col("b_date_time"), window).as("w"), col("auction"))
      .agg(count(lit(1)).as("num"))
      .select(col("w.start").as("w_start"), col("auction"), col("num"))

  /** Hopping window counts (hopping.rs analog). */
  def hoppingCounts(bids: DataFrame, window: String, slide: String,
      watermark: String): DataFrame =
    bids.withWatermark("b_date_time", watermark)
      .groupBy(functions.window(col("b_date_time"), window, slide).as("w"), col("auction"))
      .agg(count(lit(1)).as("num"))
      .select(col("w.start").as("w_start"), col("auction"), col("num"))

  /** Stagger windows (reference `Window::Stagger`, stream/window.rs:80-113
    * — declared there but never executed; we wire it): tumbling windows
    * whose phase offset varies per key, spreading window-close work across
    * time instead of synchronizing every key's emission. Phase =
    * hash(key) mod window; stateless column math, so it runs identically
    * in batch and in streaming (update/complete mode — Spark's append-mode
    * watermark tracking requires its native window functions).
    */
  def staggerCounts(bids: DataFrame, windowMs: Long, keyCol: String = "auction"): DataFrame = {
    val phase = pmod(xxhash64(col(keyCol)), lit(windowMs))
    val tMs = unix_millis(col("b_date_time"))
    val start = tMs - pmod(tMs - phase, lit(windowMs))
    bids
      .withColumn("w_start", timestamp_millis(start))
      .groupBy(col("w_start"), col(keyCol))
      .agg(count(lit(1)).as("num"))
  }

  /** Session windows via Spark's native session_window (session.rs analog,
    * element-level gap semantics).
    */
  def sessionCounts(bids: DataFrame, gap: String, watermark: String): DataFrame =
    bids.withWatermark("b_date_time", watermark)
      .groupBy(session_window(col("b_date_time"), gap).as("w"), col("bidder"))
      .agg(count(lit(1)).as("bid_count"))
      .select(col("bidder"), col("w.start").as("s_start"),
        col("w.end").as("s_end"), col("bid_count"))

  private val functions = org.apache.spark.sql.functions

  case class Session(bidder: Int, s_start: Timestamp, s_end_exclusive: Timestamp,
      bid_count: Long)
  case class SessionState(start: Long, last: Long, count: Long)

  /** Flock-exact keyed sessions via flatMapGroupsWithState
    * (session.rs:64-179): a session closes when the next event's time is
    * ≥ last + gap, or when event time passes last + gap with no activity
    * (event-time timeout). Emits closed sessions only (append mode).
    */
  def flockSessions(bids: Dataset[Bid], gapMs: Long, watermark: String): Dataset[Session] = {
    import bids.sparkSession.implicits._
    bids.withWatermark("b_date_time", watermark)
      .groupByKey(_.bidder)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (bidder: Int, events: Iterator[Bid], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(Session(bidder, new Timestamp(s.start),
              new Timestamp(s.last + gapMs), s.count))
          } else {
            val sorted = events.toSeq.sortBy(_.b_date_time.getTime)
            var cur = state.getOption
            val closed = scala.collection.mutable.ArrayBuffer[Session]()
            sorted.foreach { b =>
              val t = b.b_date_time.getTime
              cur match {
                case Some(s) if t - s.last < gapMs =>
                  cur = Some(SessionState(s.start, t, s.count + 1))
                case Some(s) =>
                  closed += Session(bidder, new Timestamp(s.start),
                    new Timestamp(s.last + gapMs), s.count)
                  cur = Some(SessionState(t, t, 1))
                case None =>
                  cur = Some(SessionState(t, t, 1))
              }
            }
            cur match {
              case Some(s) =>
                state.update(s)
                state.setTimeoutTimestamp(s.last + gapMs)
              case None => state.remove()
            }
            closed.iterator
          }
      }
  }

  case class RowsEvent(user_id: Long, event_id: Long, cents: Long)
  case class RowsWindowEmit(user_id: Long, seq: Long, n_in_window: Long,
      sum_cents: Long, avg_cents: Long)
  case class RowsWindowState(seen: Long, buf: List[Long])

  /** Rows-schedule sliding window (reference `Window::Sliding` +
    * `Schedule::Rows`, flock/src/stream/window.rs:39-113): per key, every
    * `slide`-th arriving row emits aggregates over the trailing `size`-row
    * frame. Count-based windows are defined by per-key ARRIVAL order, not
    * event time — there is no watermark and no timeout; emission is driven
    * purely by the row counter, exactly the reference's rows schedule.
    * Within a micro-batch rows process in `event_id` order, so replay
    * transports (files, MemoryStream) with monotone batches reproduce the
    * batch q130_rows_sliding bit-for-bit.
    *
    * Scale: state per key is one counter + a ≤`size`-element ring of
    * longs — independent of stream length; the only shuffle is the
    * groupByKey. The mean is a floor division of the cents sum (exact,
    * matching the batch/oracle convention for non-negative values).
    *
    * PRECONDITION (per-key-per-batch memory): the arrival-order sort
    * that makes replay deterministic must see one key's rows for one
    * micro-batch together — Spark's state API hands them as an
    * unordered iterator and has no sorted-groups variant — so a key's
    * share of a micro-batch materializes on its task (in-place array
    * sort, one object per row, no List overhead). STATE stays O(`size`)
    * regardless; only the transient batch slice is O(rows). Bound it at
    * the source (`maxFilesPerTrigger` / `maxOffsetsPerTrigger` /
    * MemoryStream batch size): a 10M-row micro-batch landing on ONE hot
    * key costs that task ~240 MB transient — within executor budgets,
    * and RowsSlidingSkewSpec pins a single-key burst end-to-end. For
    * transports that already deliver per-key-ordered batches the sort
    * is a no-op pass over the same array.
    */
  def rowsSlidingStream(events: Dataset[RowsEvent], size: Int,
      slide: Int): Dataset[RowsWindowEmit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RowsWindowState, RowsWindowEmit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[RowsEvent],
            state: GroupState[RowsWindowState]) =>
          var s = state.getOption.getOrElse(RowsWindowState(0L, Nil))
          val out = scala.collection.mutable.ArrayBuffer[RowsWindowEmit]()
          val batch = rows.toArray
          scala.util.Sorting.stableSort(batch,
            (a: RowsEvent, b: RowsEvent) => a.event_id < b.event_id)
          batch.foreach { e =>
            val buf = (e.cents :: s.buf).take(size) // newest-first ring
            s = RowsWindowState(s.seen + 1, buf)
            if (s.seen % slide == 0) {
              val sum = buf.sum
              out += RowsWindowEmit(user, s.seen, buf.length.toLong, sum,
                sum / buf.length) // positive longs: / == floor division
            }
          }
          state.update(s)
          out.iterator
      }
  }

  /** Stream-static broadcast join (NEXMark q13 streaming form): each
    * micro-batch of bids joins the bounded side-input table; the static
    * side broadcasts once, no stream state.
    */
  def sideInputJoinStream(bids: DataFrame, side: DataFrame): DataFrame =
    bids.join(org.apache.spark.sql.functions.broadcast(side),
      pmod(col("auction"), lit(10000)) === col("key"))
      .select(col("auction"), col("bidder"), col("price"),
        col("b_date_time"), col("value"))

  /** Stream-stream inner join: auctions ⋈ bids with the NEXMark range
    * residual (q4/q6/q9 shape, executed-corpus q4.sql:5-9). Spark needs an
    * interval bound between the two watermarked event-time columns to age
    * state out; `maxAuctionLength` provides it, and the data-dependent
    * `expires` bound applies as a residual predicate on top.
    */
  def winningBidJoin(auctions: DataFrame, bids: DataFrame,
      watermark: String, maxAuctionLength: String): DataFrame =
    auctions.withWatermark("a_date_time", watermark)
      .join(bids.withWatermark("b_date_time", watermark),
        expr(s"""a_id = auction
                 AND b_date_time >= a_date_time
                 AND b_date_time <= a_date_time + INTERVAL $maxAuctionLength
                 AND b_date_time <= expires"""),
        "inner")

  /** Watermark-buffered event-time reorder — the upstream wrapper the
    * attribution/CDC state machines assume when the transport reorders:
    * each key's events are held in state until the watermark passes
    * their event time, then released in the caller's event-time order.
    * Composable in FRONT of another keyed state machine
    * ([[attributionStream]]; multiple flatMapGroupsWithState operators
    * chain in Append mode) — ReorderStreamSpec pins scrambled delivery
    * + wrapper == the event-ordered/batch results.
    *
    * Contract: `events` must already carry `withWatermark` on the
    * column `tsMsOf` reads (EventTimeTimeout requires it). An event
    * arriving with ts <= the current watermark is LATE by definition
    * and dropped here explicitly — the wrapper turns "reordered within
    * the watermark slack" into "in order"; it cannot resurrect data the
    * watermark already closed. Releases are monotone across
    * micro-batches (batch N+1 releases only ts above batch N's
    * watermark), so the per-key output is globally event-time-ordered.
    *
    * Scale: state per key = only the events inside the watermark slack
    * (slack × per-key rate — the irreducible price of reordering on any
    * engine); the only shuffle keys on `keyOf`. Flushes ride
    * EventTimeTimeout on the min buffered ts, so a key with no new
    * arrivals still releases as the watermark advances.
    *
    * Composition notes: chaining a second flatMapGroupsWithState behind
    * this one trips Spark's global-watermark correctness check — the
    * reorder stage by DESIGN emits rows at the watermark boundary,
    * which a downstream event-time-filtering operator could discard.
    * [[attributionStream]] uses NoTimeout and never consults event
    * time, so the chain is safe; disable
    * `spark.sql.streaming.statefulOperator.checkCorrectness.enabled`
    * for exactly that query (Spark's sanctioned escape hatch;
    * ReorderStreamSpec does). `mapGroupsWithState` consumers cannot
    * chain AT ALL (Spark rejects mixing them with
    * flatMapGroupsWithState) — for CDC use [[cdcApplyOrderedStream]],
    * which fuses the reorder into the apply state machine: one shuffle,
    * one state store, no chain.
    */
  def reorderByWatermark[E <: Product](events: Dataset[E],
      keyOf: E => Long, tsMsOf: E => Long)(
      implicit ord: Ordering[E],
      tt: scala.reflect.runtime.universe.TypeTag[E]): Dataset[E] = {
    val eEnc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[E]()
    val bufEnc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[E]]()
    events.groupByKey(keyOf)(org.apache.spark.sql.Encoders.scalaLong)
      .flatMapGroupsWithState[Seq[E], E](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[E], state: GroupState[Seq[E]]) =>
          val wm = state.getCurrentWatermarkMs()
          // drop late arrivals ourselves: an event at/below the
          // watermark may already have been "overtaken" by a release
          val buf = state.getOption.getOrElse(Seq.empty) ++
            rows.filter(e => tsMsOf(e) > wm)
          val (hold, ready) = buf.partition(e => tsMsOf(e) > wm)
          if (hold.nonEmpty) {
            state.update(hold)
            state.setTimeoutTimestamp(hold.map(tsMsOf).min)
          } else if (state.exists) state.remove()
          ready.sorted(ord).iterator
      }(bufEnc, eEnc)
  }

  /** One user-activity event on the attribution stream (public: encoder
    * requirement). `k` is the click's channel (null-safe: -1 when the
    * producing event carries none).
    */
  case class TouchEvent(user_id: Long, ts: Timestamp, event_id: Long,
      event_type: String, value: Double, k: Long)
  /** One attributed purchase: `channel` = -1 when unattributed. */
  case class Credit(user_id: Long, ts: Timestamp, channel: Long,
      cents: Long)
  case class LastClick(tsMicros: Long, k: Long)

  /** Streaming last-touch attribution — the streaming sibling of batch
    * q141: per user, state is ONLY the latest click (event-time micros +
    * channel, two longs); each purchase emits a [[Credit]] against that
    * click when it is within the 7-day lookback, else against channel
    * -1. Within a micro-batch events apply in (ts, kind, event_id)
    * order — clicks before purchases on timestamp ties, exactly the
    * batch window's ORDER BY — so event-ordered delivery reproduces
    * q141's credits row-for-row and the per-channel rollup matches the
    * batch result (pinned in AttributionStreamSpec). Cross-batch
    * arrival is processing-order, like the dedup family: a click
    * delivered after a later-ts purchase cannot retroactively
    * re-attribute it — compose [[reorderByWatermark]] in front when the
    * transport reorders (ReorderStreamSpec pins scrambled delivery +
    * wrapper == the batch q141 rollup).
    *
    * Scale: two longs of state per active user; the only shuffle keys
    * on user_id. Credits are integer cents (the engine's money scheme).
    */
  def attributionStream(events: Dataset[TouchEvent],
      lookbackMs: Long = 7L * 24 * 3600 * 1000): Dataset[Credit] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[LastClick, Credit](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[TouchEvent], state: GroupState[LastClick]) =>
          def kind(t: String) =
            if (t == "click") 0 else if (t == "purchase") 1 else 2
          // true event-time micros (Timestamp.getTime truncates to ms)
          def micros(t: Timestamp): Long =
            t.getTime / 1000 * 1000000 + t.getNanos / 1000
          val batch = rows.toArray
          java.util.Arrays.sort(batch,
            Ordering.by((e: TouchEvent) =>
              (micros(e.ts), kind(e.event_type), e.event_id)))
          var s = state.getOption.orNull
          val out = scala.collection.mutable.ArrayBuffer[Credit]()
          batch.foreach { e =>
            kind(e.event_type) match {
              case 0 => s = LastClick(micros(e.ts), e.k)
              case 1 =>
                val ch =
                  if (s != null && micros(e.ts) - s.tsMicros
                      <= lookbackMs * 1000) s.k
                  else -1L
                out += Credit(user, e.ts, ch,
                  math.floor(e.value * 100 + 0.5).toLong)
              case _ => ()
            }
          }
          if (s != null) state.update(s)
          out.iterator
      }
  }

  /** One CDC record: `op` is "upsert" or "delete"; `seq` totalizes
    * same-timestamp changes (public: encoder requirement).
    */
  case class CdcEvent(key: Long, ts: Timestamp, seq: Long, op: String,
      payload: String)
  /** Net row state after applying a batch: `deleted` marks a tombstone
    * (the key's latest change is a delete).
    */
  case class CdcRow(key: Long, ts: Timestamp, seq: Long, payload: String,
      deleted: Boolean)

  /** CDC apply / upsert materialization — the STREAMING sibling of the
    * batch q104 MERGE: a change stream of keyed upserts/deletes folds
    * into per-key net state, emitting each key's current row after
    * every micro-batch that touched it (Update-mode changelog; the
    * consumer's sink keeps the latest row per key, exactly how a
    * MERGE-less object store materializes a table). Changes apply in
    * (ts, seq) order, and state keeps only the LATEST version per key —
    * an out-of-order stale change (older (ts, seq) than the applied
    * one) is a no-op, so replays and late deliveries converge to the
    * same table.
    *
    * Scale: state is one (ts, seq, payload, deleted) tuple per live
    * key — the materialized table's own cardinality, the floor for any
    * upsert engine; the only shuffle keys on `key`. Tombstones stay in
    * state so late stale upserts cannot resurrect deleted keys (drop
    * them downstream; a TTL pass in the batch layer compacts them —
    * same division of labor as the reference's epoch/batch split).
    */
  def cdcApplyStream(changes: Dataset[CdcEvent]): Dataset[CdcRow] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.key)
      .mapGroupsWithState[CdcRow, CdcRow](GroupStateTimeout.NoTimeout) {
        (key: Long, rows: Iterator[CdcEvent], state: GroupState[CdcRow]) =>
          val batch = rows.toArray
          java.util.Arrays.sort(batch,
            Ordering.by((e: CdcEvent) => (e.ts.getTime, e.seq)))
          var s = state.getOption.orNull
          batch.foreach { e =>
            val newer = s == null || s.ts.getTime < e.ts.getTime ||
              (s.ts.getTime == e.ts.getTime && s.seq < e.seq)
            if (newer)
              s = CdcRow(key, e.ts, e.seq, e.payload, e.op == "delete")
          }
          state.update(s)
          s
      }
  }

  /** Per-key state of [[cdcApplyOrderedStream]]: the applied row (None
    * until the first event releases) plus the changes still inside the
    * watermark slack (public: encoder requirement).
    */
  case class CdcOrderedState(row: Option[CdcRow], buffered: Seq[CdcEvent])

  /** [[cdcApplyStream]] with watermark-buffered reordering FUSED into
    * the apply state machine. Spark rejects chaining mapGroupsWithState
    * behind another stateful operator, and fusing is cheaper anyway:
    * one shuffle, one state store, and the released-then-applied events
    * never cross an operator boundary. Changes buffer per key until the
    * watermark passes their event time (late arrivals — ts at/below the
    * watermark — are dropped, the watermark contract), then apply in
    * (ts, seq) order; each micro-batch whose releases changed a key's
    * row emits that row once (Append-mode changelog — the consumer
    * keeps the latest row per key, same contract as cdcApplyStream's
    * Update output). With an ordered release sequence a stale change
    * CANNOT arrive behind a newer one inside the slack, so the emitted
    * changelog is version-monotone per key — the property scrambled
    * delivery into plain cdcApplyStream loses (it still converges, but
    * emissions can go backward transiently).
    *
    * Scale: state = one applied tuple per live key + the slack-bounded
    * buffer; the only shuffle keys on `key`. Requires `withWatermark`
    * on `ts` upstream (EventTimeTimeout drives idle-key flushes).
    */
  def cdcApplyOrderedStream(changes: Dataset[CdcEvent]): Dataset[CdcRow] = {
    import changes.sparkSession.implicits._
    changes.groupByKey(_.key)
      .flatMapGroupsWithState[CdcOrderedState, CdcRow](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (key: Long, rows: Iterator[CdcEvent], state: GroupState[CdcOrderedState]) =>
          val wm = state.getCurrentWatermarkMs()
          val st = state.getOption.getOrElse(CdcOrderedState(None, Seq.empty))
          val buf = st.buffered ++ rows.filter(_.ts.getTime > wm)
          val (hold, ready) = buf.partition(_.ts.getTime > wm)
          var row = st.row.orNull
          var changed = false
          ready.sortBy(e => (e.ts.getTime, e.seq)).foreach { e =>
            val newer = row == null || row.ts.getTime < e.ts.getTime ||
              (row.ts.getTime == e.ts.getTime && row.seq < e.seq)
            if (newer) {
              row = CdcRow(key, e.ts, e.seq, e.payload, e.op == "delete")
              changed = true
            }
          }
          // the applied row persists for the key's lifetime (tombstones
          // included — same retention contract as cdcApplyStream)
          state.update(CdcOrderedState(Option(row), hold))
          if (hold.nonEmpty)
            state.setTimeoutTimestamp(hold.map(_.ts.getTime).min)
          if (changed) Iterator.single(row) else Iterator.empty
      }
  }

  /** Streaming NEXMark q5 (hot items): append-mode hopping counts emit
    * each window once its watermark closes; the per-window max is then a
    * small per-batch reduction in foreachBatch — the same
    * collect-window-then-finalize structure as the reference's hopping
    * driver (hopping.rs:54-121) with Spark managing the window state.
    */
  def hotItemsStream(bids: DataFrame, watermark: String,
      trigger: Trigger = Trigger.ProcessingTime(0))(
      onWinners: DataFrame => Unit): StreamingQuery = {
    val counts = hoppingCounts(bids, "10 seconds", "5 seconds", watermark)
    toForeachBatch(counts, OutputMode.Append, trigger) { (batch, _) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("w_start")).orderBy(col("num").desc, col("auction"))
      onWinners(batch
        .withColumn("rnk", org.apache.spark.sql.functions.rank().over(w))
        .filter(col("rnk") === 1)
        .select(col("w_start"), col("auction"), col("num")))
    }
  }

  /** A timestamped document on the ingestion stream (public: Spark
    * encoders need a public case class at codegen time).
    */
  case class DocEvent(doc_id: Long, ts: Timestamp, text: String)

  /** Streaming exact dedup (LLM-pipeline ingestion): keep the first
    * occurrence of each content fingerprint, with state aged out by the
    * watermark horizon — the streaming form of batch q31. The fingerprint
    * keys the state store instead of the full text, so state size is
    * O(distinct docs in horizon) × ~50 bytes, not × document size. The
    * fingerprint is 160 bits — (length, xxhash64, md5) — so a collision
    * between distinct documents needs simultaneous 64- AND 128-bit hash
    * agreement at equal length: negligible even at multi-billion-doc
    * corpus scale (a lone 64-bit hash would hit the birthday bound there).
    */
  def dedupExactStream(docs: Dataset[DocEvent], watermark: String): DataFrame =
    docs.toDF()
      .withColumn("content_hash",
        struct(length(col("text")), xxhash64(col("text")), md5(col("text"))))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .drop("content_hash")

  /** Streaming near-dup dedup: documents with an identical md5-minhash
    * signature (k=16 over the token set) are near-identical with high
    * probability; keeping the first per signature is the streaming
    * counterpart of the q61 batch pipeline's bucketing stage. Signature
    * state, like the hash above, is constant-size per distinct doc.
    */
  def dedupSignatureStream(docs: Dataset[DocEvent], watermark: String): DataFrame =
    docs.toDF()
      .withColumn("sig",
        graft.functions.TextHashes.md5MinhashSig(split(col("text"), "\\s+"), 16))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("sig")
      .drop("sig")

  /** Stream-vs-INDEX dedup — the streaming form of q88's incremental
    * dedup: drop arriving documents whose md5-minhash signature already
    * exists in the PRECOMPUTED corpus index (a static relation built by
    * the batch pipeline). Stream-static anti joins are STATELESS in
    * Structured Streaming — no watermark state grows with the index —
    * and the broadcast keeps the probe map-side. At 100 TB the index
    * relation is a compact (sig) parquet table maintained by the batch
    * dedup job; when it outgrows broadcast, drop the hint and Spark
    * shuffles the (small) signature stream against it instead —
    * arriving text never shuffles either way. Within-stream duplicates
    * are handled by composing `dedupSignatureStream` upstream.
    */
  def dedupAgainstIndexStream(docs: Dataset[DocEvent],
      indexSigs: DataFrame): DataFrame =
    docs.toDF()
      .withColumn("sig",
        graft.functions.TextHashes.md5MinhashSig(split(col("text"), "\\s+"), 16))
      .join(broadcast(indexSigs.select(col("sig"))), Seq("sig"), "left_anti")
      .drop("sig")

  /** One band-bucket collision on the near-dup stream: arriving `doc_id`
    * shares minhash band `band` with the bucket's first occupant
    * `first_id` (public: encoder requirement).
    */
  case class NearDupHit(doc_id: Long, ts: Timestamp, band: Int,
      first_id: Long)
  case class BucketState(firstId: Long, firstTsMs: Long)

  /** Streaming MinHash-LSH near-dup detection — the streaming form of
    * batch q33/q61's BANDING stage, and the step up from
    * [[dedupSignatureStream]]: that op only collapses docs whose WHOLE
    * 16-hash signature matches (near-identical docs); this one keys
    * state by each of the 8 two-hash band buckets, so documents at
    * Jaccard ≈ 0.8 — which agree on some bands but not all — collide
    * too (the standard S-curve: P(hit) = 1−(1−J²)⁸ ≈ 0.96 at J=0.8).
    * Each arriving document emits one [[NearDupHit]] per band whose
    * bucket an EARLIER arrival already claimed (arrival order, like the
    * other dedup ops; within a micro-batch, (ts, doc_id) order makes
    * replay deterministic). Downstream either treats any-hit as "flag
    * doc for exact recheck" (the q33 recheck runs in the batch layer on
    * the flagged set) or collapses per doc_id.
    *
    * Scale: state per band bucket is TWO LONGS (first occupant id + its
    * event-time millis) keyed by the folded 64-bit band hash, aged out
    * by event-time timeout at the watermark horizon — so state is
    * O(distinct buckets in horizon), independent of document size, and
    * only (doc_id, ts, band, bandhash) rows ever shuffle; text stays in
    * the stateless signature projection. The groupByKey shuffle is keyed
    * on (band, bandhash) — uniform by construction (minhash output), no
    * hot keys.
    */
  def nearDupLshStream(docs: Dataset[DocEvent], watermark: String,
      horizonMs: Long, bands: Int = 8, k: Int = 16): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    val banded = docs.toDF()
      .withColumn("sig",
        graft.functions.TextHashes.md5MinhashSig(split(col("text"), "\\s+"), k))
      .select(col("doc_id"), col("ts"),
        posexplode(graft.operators.TextOps.lshBandFold(bands, k / bands))
          .as(Seq("band", "bandhash")))
      .withWatermark("ts", watermark)
      .as[(Long, Timestamp, Int, Long)]
    banded.groupByKey { case (_, _, band, bh) => (band, bh) }
      .flatMapGroupsWithState[BucketState, NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case ((_, _), rowsIt, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rowsIt.toArray
            java.util.Arrays.sort(batch,
              Ordering.by((r: (Long, Timestamp, Int, Long)) =>
                (r._2.getTime, r._1)))
            val out = scala.collection.mutable.ArrayBuffer[NearDupHit]()
            var s = state.getOption.orNull
            batch.foreach { case (id, ts, band, _) =>
              if (s == null) s = BucketState(id, ts.getTime)
              else if (id != s.firstId)
                out += NearDupHit(id, ts, band, s.firstId)
            }
            state.update(s)
            // bucket ages out once the watermark passes its horizon
            state.setTimeoutTimestamp(
              batch.map(_._2.getTime).max + horizonMs)
            out.iterator
          }
      }
  }

  /** The ingestion pipeline COMPOSED as one streaming query — the
    * streaming form of the batch q65/q86 chain: exact dedup within the
    * watermark horizon → quality filter (token-count bounds) → stopword
    * language vote → per-(event-time window, language) counts. Two
    * stateful operators chained (dedup state → windowed agg state) under
    * one event-time watermark — the multi-stateful pipeline shape Spark
    * supports natively; everything between the stateful stages is a
    * stateless codegen'd projection.
    */
  def ingestPipelineStream(docs: Dataset[DocEvent], watermark: String,
      window: String = "10 seconds", minTok: Int = 3,
      maxTok: Int = 1000): DataFrame = {
    val deduped = dedupExactStream(docs, watermark)
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("n_tokens", size(col("toks")))
      .filter(col("n_tokens").between(minTok, maxTok))
    graft.functions.LangId.withScores(deduped)
      .withColumn("predicted", graft.functions.LangId.vote)
      .groupBy(org.apache.spark.sql.functions.window(col("ts"), window),
        col("predicted"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
      .select(col("window.start").as("w_start"), col("predicted"),
        col("n_docs"), col("sum_tokens"))
  }

  /** One retained heavy-hitter counter for a closed window (public:
    * encoder requirement). `est` is the Misra-Gries estimate (true count
    * − at most `n_tokens/(k+1)`); `n_tokens` is the window's total token
    * mass, so consumers can bound the error themselves.
    */
  case class HeavyHitter(w_start: Timestamp, tok: String, est: Long,
      n_tokens: Long)
  case class MGState(counts: Map[String, Long], n: Long)

  /** Streaming heavy hitters — per event-time tumbling window, the
    * Misra-Gries bounded-counter summary of token frequencies (the
    * streaming counterpart of batch q100's Count-Min top-k, but with
    * O(k) state per window instead of a d×w sketch, and deterministic
    * UNDER-estimates instead of over-estimates). Each window's state is
    * at most k counters regardless of vocabulary size; the MG guarantee
    * — any token with true frequency > n/(k+1) survives, and estimates
    * undercount by ≤ n/(k+1) — holds for ANY arrival order, which is
    * what makes it safe under micro-batch re-ordering. Windows emit on
    * event-time timeout once the watermark passes the window end
    * (append mode), so results are final.
    *
    * Scale: state is bounded by k × windows-in-the-watermark-horizon,
    * never by vocabulary; the token stream shuffles as (ts, tok) pairs
    * keyed by window — at higher rates, MG summaries also MERGE
    * (sum counters, then keep the top k after subtracting the (k+1)-th
    * value), so a per-partition pre-summary stage can bound even the
    * shuffle at k rows per partition per window.
    */
  /** A document offered to the online curation gate: `seq` is the
    * delivery-order rank (the batch quality rank when the upstream
    * feeds best-first), `n_tok` its token count — computed upstream
    * map-side, so the admission state machine never sees text.
    */
  case class CurationDoc(doc_id: Long, seq: Long, lang: String, n_tok: Long)

  /** Per-language admission state: tokens charged so far (including
    * rejected docs — the q135 prefix rule) and docs admitted.
    */
  case class LangBudgetState(spent: Long, kept: Long)

  case class Admission(lang: String, doc_id: Long, admitted: Boolean,
      cum: Long, kept_count: Long)

  /** Streaming curation — the ONLINE form of q135's per-language token
    * budget (round-8 verdict item 7): documents arrive, each language's
    * gate charges its running total and admits while the total stays
    * within budget. Same greedy-prefix semantics as the batch operator
    * (a doc's tokens are charged whether or not it is admitted, so
    * admission ends at the first overflow — cum is monotone), which
    * makes the equivalence exact: under event-ordered delivery (seq =
    * the batch quality rank) the admitted set IS the batch q135 kept
    * set, pinned by CurationStreamSpec across arbitrary micro-batch
    * splits and within-batch scrambling (the handler orders each
    * group's slice by seq before charging).
    *
    * Scale: state is TWO LONGS per language — no buffering, no
    * timeout, no watermark dependence; the only shuffle carries
    * (doc_id, seq, lang, n_tok) rows (text never moves — token counts
    * fold map-side upstream); each decision is O(1). The operator
    * sustains whatever rate the lang-keyed exchange sustains, with the
    * usual caveat that one dominant language serializes through one
    * task — the admission itself is so cheap (two adds, one compare)
    * that the exchange, not the state machine, is the bound.
    */
  /** The ONLINE release pipeline — q155's streaming sibling, composed
    * from the already-pinned stages: token-window quality gate +
    * stopword langid + content fingerprint (one stateless map-side
    * projection, the shared [[graft.functions.LangId]] scorer) →
    * within-watermark exact dedup on the fingerprint (stateful) →
    * per-language token budget admission ([[tokenBudgetStream]]'s
    * gate, second stateful operator). Emits one [[Admission]] per
    * SURVIVING doc; `seq` for the admission order is the arriving
    * doc_id (the transport's delivery rank — feed best-first to
    * reproduce a batch selection).
    *
    * Chaining note: a flatMapGroupsWithState behind another stateful
    * operator trips the same global-watermark correctness check as the
    * reorder→attribution chain; the gate neither consults event time
    * nor times out, so disabling the check for this query is safe (the
    * sanctioned escape hatch, see [[reorderByWatermark]]).
    *
    * Scale: text never reaches a shuffle — every post-projection
    * exchange carries fixed-width rows. Dedup state is the watermark
    * horizon's fingerprints; admission state is two longs per language.
    */
  def releaseAdmissionStream(docs: Dataset[DocEvent], watermark: String,
      budget: Long, minTok: Int = 3, maxTok: Int = 1000): Dataset[Admission] = {
    val s = docs.sparkSession
    import s.implicits._
    // The quality gate, the language vote, and the dedup fingerprint
    // are all pure per-row projections of the text, so run them ALL
    // map-side BEFORE the dedup's stateful exchange and drop the text:
    // the shuffle then carries fixed-width (doc_id, ts, hash, lang,
    // n_tok) rows instead of whole documents — the q31 production
    // posture, and the release stream's throughput bound (it was
    // pinned at ingest's document-hauling rate before this). Exact-dup
    // texts score identically, so filtering/scoring commutes with
    // keep-first dedup and the admitted set is unchanged (the spec's
    // driver replay runs the stages in the original order).
    val fingered = graft.functions.LangId.withScores(
        docs.toDF()
          .withColumn("toks", split(col("text"), "\\s+"))
          .withColumn("n_tokens", size(col("toks")))
          .filter(col("n_tokens").between(minTok, maxTok)))
      .withColumn("content_hash",
        struct(length(col("text")), xxhash64(col("text")), md5(col("text"))))
      .withColumn("lang", graft.functions.LangId.vote)
      .select(col("doc_id"), col("ts"), col("content_hash"), col("lang"),
        col("n_tokens").cast("long").as("n_tok"))
    val curated = fingered
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("content_hash")
      .select(col("doc_id"), col("doc_id").as("seq"), col("lang"),
        col("n_tok"))
      .as[CurationDoc]
    tokenBudgetStream(curated, budget)
  }

  def tokenBudgetStream(docs: Dataset[CurationDoc],
      budget: Long): Dataset[Admission] =
    tokenBudgetStreamBy(docs, _ => budget)

  /** [[tokenBudgetStream]] with a PER-LANGUAGE budget function — the
    * incremental-release tap passes each language's remaining budget
    * from the stored release digest.
    */
  def tokenBudgetStreamBy(docs: Dataset[CurationDoc],
      budgetOf: String => Long): Dataset[Admission] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.groupByKey(_.lang)
      .flatMapGroupsWithState[LangBudgetState, Admission](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lang, it, state) =>
          val budget = budgetOf(lang)
          var st = state.getOption.getOrElse(LangBudgetState(0L, 0L))
          val out = it.toVector.sortBy(e => (e.seq, e.doc_id)).map { e =>
            val cum = st.spent + e.n_tok
            val ok = cum <= budget
            st = LangBudgetState(cum, st.kept + (if (ok) 1L else 0L))
            Admission(lang, e.doc_id, ok, cum, st.kept)
          }
          state.update(st)
          out.iterator
      }
  }

  /** One incoming document for the incremental-release tap (encoder). */
  case class IncrDoc(doc_id: Long, ts: Timestamp, lang: String, text: String)

  /** Streaming incremental release — q189/q190 as the ONLINE admission
    * a crawl ingest runs against the STORED release digest
    * (`PipelineOps.writeReleaseDigest`): each arriving document passes
    * the quality window, the exact-dup gate against the release's
    * 60-bit text digest (a stream-static anti-join — within-stream
    * exact dups are `dedupExactStream`'s job upstream of this tap),
    * span cleanup against the release's window digest (stream-static
    * join on the 16-hex hash; the FROZEN-digest-only rule — the online
    * tap does not hold unbounded cross-document window state, the
    * documented delta from q189's batch-dup term), and each language's
    * REMAINING budget in arrival order (the prefix rule, per-event —
    * a rejected overflow burns the budget exactly as the batch cum
    * rule does).
    *
    * Scale: the digest relations stay on disk and join shuffle-keyed
    * per micro-batch (stream-static, never broadcast at corpus scale);
    * the per-doc coverage group sees only that doc's window rows
    * (bounded by doc length, no retained state); budget state is two
    * longs per language.
    */
  def incrementalReleaseStream(docs: Dataset[IncrDoc],
      digestDir: String): Dataset[Admission] = {
    val s = docs.sparkSession
    import s.implicits._
    val textdig = s.read.parquet(s"$digestDir/textdig")
    val windig = s.read.parquet(s"$digestDir/windig")
    val budgets = s.read.parquet(s"$digestDir/budgets")
      .select(col("lang"), col("remaining")).as[(String, Long)]
      .collect().toMap // ≤ |langs| rows: serving config, not data
    val staged = docs.toDF()
      .withColumn("toks", split(col("text"), "\\s+"))
      .withColumn("n_tok", size(col("toks")).cast("long"))
      .filter(col("n_tok").between(20L, 1000L))
      .withColumn("th", expr(
        "CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)"))
      .join(textdig, Seq("th"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_tok"), posexplode(
        graft.functions.TextHashes.md5WindowPrefixes(col("toks"), 8)))
      .select(col("doc_id"), col("lang"), col("n_tok"),
        (col("pos") + 1).cast("long").as("i"), col("col").as("h"))
      .join(windig.withColumn("dup", lit(1L)), Seq("h"), "left")
      .select(col("doc_id"), col("lang"), col("n_tok"), col("i"),
        coalesce(col("dup"), lit(0L)).as("dup"))
      .as[(Long, String, Long, Long, Long)]
    val cleaned = staged.groupByKey(_._1)
      .flatMapGroupsWithState[LangBudgetState, CurationDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (docId, it, _) => // state never written: per-doc rows arrive in
          // one batch (they derive from one input row), nothing retained
          val rows = it.toVector
          val dupIs = rows.filter(_._5 == 1L).map(_._4).sorted
          var cov = 0L
          var prev = Long.MinValue
          dupIs.foreach { i =>
            cov += (if (prev == Long.MinValue) 8L
                    else math.min(8L, i - prev))
            prev = i
          }
          val nClean = rows.head._3 - cov
          if (nClean >= 1L)
            Iterator.single(
              CurationDoc(docId, docId, rows.head._2, nClean))
          else Iterator.empty
      }
    tokenBudgetStreamBy(cleaned, budgets.getOrElse(_, 0L))
  }

  /** One document for the streaming reservoir (public: encoder). */
  case class ResDoc(doc_id: Long, lang: String)
  /** Per-stratum reservoir state: the k smallest (h, doc_id) pairs,
    * parallel arrays kept sorted (public: encoder).
    */
  case class ResState(hs: Array[Long], ids: Array[Long])
  /** One admit/evict delta of the reservoir's own CDC (public: encoder). */
  case class ResDelta(lang: String, doc_id: Long, h: Long, op: String)

  /** Streaming fixed-size deterministic reservoir — the online form of
    * the q166 batch sample: per stratum (language), maintain exactly
    * the k smallest md5(doc_id) documents seen so far and emit the
    * sample's own CDC — an `admit` when a document enters the
    * reservoir, an `evict` when a newcomer pushes a prior member out.
    * Because min-k under a total order is a semilattice, the reservoir
    * CONTENTS after any prefix of the corpus are delivery-order- and
    * batching-invariant (the delta SEQUENCE is batch-granular: a doc
    * admitted and evicted within one micro-batch never surfaces);
    * replays are idempotent (a pair already in the sample is a no-op).
    * Downstream applies the deltas to keep a live eval-set table — the
    * same shape cdcApplyStream consumes.
    *
    * Scale: state is O(k) longs per stratum, the per-batch merge is
    * one sorted walk, and the md5 is computed in the codegen'd
    * projection BEFORE the stateful exchange, so the shuffle carries
    * (lang, id, hash) triples only.
    */
  def reservoirStream(docs: Dataset[ResDoc], k: Int): Dataset[ResDelta] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.toDF()
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
      .select(col("lang"), col("doc_id"), col("h"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[ResState, ResDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (lang, it, state) =>
          val old = state.getOption
            .map(st => st.hs.zip(st.ids).toVector).getOrElse(Vector.empty)
          val seen = old.toSet
          val incoming = it.map { case (_, id, h) => (h, id) }.toVector
            .distinct.filterNot(seen)
          val merged = (old ++ incoming).sorted
          val next = merged.take(k)
          val nextSet = next.toSet
          state.update(ResState(next.map(_._1).toArray,
            next.map(_._2).toArray))
          val admits = next.filterNot(seen)
            .map { case (h, id) => ResDelta(lang, id, h, "admit") }
          val evicts = old.filterNot(nextSet)
            .map { case (h, id) => ResDelta(lang, id, h, "evict") }
          (admits ++ evicts).iterator
      }
  }

  /** One decontamination verdict (public: encoder). */
  case class DecontamVerdict(doc_id: Long, n_grams: Long, n_hits: Long,
      contaminated: Boolean)

  /** Streaming benchmark DECONTAMINATION — q82's eval-8-gram guard as
    * an ingestion-time tap: every arriving document is scored against
    * the (static, broadcast) eval-suite digest of distinct 8-token
    * windows, emitting its window count, hit count, and the
    * contaminated flag a pipeline routes on (quarantine vs admit).
    * Stateless by construction — the digest is benchmark-suite-sized
    * and broadcast once, the scan is per-document — so verdicts are
    * trivially batching-, delivery-order-, and replay-invariant, and
    * the operator composes before any stateful stage (drop
    * contaminated docs BEFORE they enter dedup state). Digest entries
    * are the windows' 60-bit md5 prefixes (the q136 identity device):
    * 8 bytes per eval window on the broadcast, the text of neither
    * side ever shuffles.
    *
    * Scale: the eval suite is small by construction (q82's argument);
    * a digest too big to broadcast is the signal to switch to the q94
    * Bloom-bitmap form, same verdict schema.
    */
  /** One scored-and-labeled observation for [[aucMonitorStream]]. */
  case class ScoreEvent(source: String, score: Int, y: Int)

  /** Rolling per-source eval metrics after each micro-batch. */
  case class AucRow(source: String, n: Long, n_pos: Long,
      auc_permille: Long)

  /** ONLINE exact AUC — streaming model monitoring with the q196
    * semantics: per source, running counts of positives and negatives
    * AT EACH permille score value, re-emitting the exact tie-averaged
    * Mann-Whitney AUC after every micro-batch that touches the source.
    * The state trick is that scores live on an integer permille domain,
    * so per-source state is two 1001-long count arrays (≈16 KB) —
    * bounded by the SCORE DOMAIN, not the stream length — and counts
    * are order-free, so the rolling metric is delivery-order- and
    * batching-invariant and equals the batch q196 over exactly the
    * delivered prefix at every boundary (spec-pinned). Scores outside
    * [0, 1000] are corrupt input and fail loudly. A single-class
    * prefix reports -1 like the batch entry.
    */
  def aucMonitorStream(events: Dataset[ScoreEvent]): Dataset[AucRow] = {
    val s = events.sparkSession
    import s.implicits._
    events.groupByKey(_.source)
      .flatMapGroupsWithState[Array[Long], AucRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        case (source, it, state) =>
          val cnt = state.getOption.getOrElse(Array.fill(2002)(0L))
          it.foreach { e =>
            require(e.score >= 0 && e.score <= 1000,
              s"score ${e.score} outside the permille domain")
            require(e.y == 0 || e.y == 1, s"label ${e.y} not binary")
            cnt(e.score * 2 + e.y) += 1L
          }
          state.update(cnt)
          var n = 0L; var nPos = 0L; var cum = 0L; var r2 = 0L
          var v = 0
          while (v <= 1000) {
            val neg = cnt(v * 2); val pos = cnt(v * 2 + 1)
            val c = neg + pos
            r2 += pos * (cum * 2 + c + 1)
            cum += c; n += c; nPos += pos
            v += 1
          }
          val nNeg = n - nPos
          val auc = if (nPos == 0 || nNeg == 0) -1L
            else (1000L * (r2 - nPos * (nPos + 1))) / (2L * nPos * nNeg)
          Iterator.single(AucRow(source, n, nPos, auc))
      }
  }

  def decontamStream(docs: Dataset[DocEvent],
      evalGramHashes: Set[Long]): Dataset[DecontamVerdict] = {
    val s = docs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(evalGramHashes)
    docs.map { d =>
      val toks = Option(d.text).getOrElse("").split("\\s+", -1)
      val n = math.max(0, toks.length - 7)
      var hits = 0L
      var i = 0
      while (i < n) {
        if (bc.value.contains(gramHash60(toks, i))) hits += 1
        i += 1
      }
      DecontamVerdict(d.doc_id, n.toLong, hits, hits > 0)
    }
  }

  /** 60-bit md5 prefix of the 8-token window starting at `i` (space-
    * joined) — the shared cross-engine window identity.
    */
  private[graft] def gramHash60(toks: Array[String], i: Int): Long =
    md5Hash60(toks.slice(i, i + 8).mkString(" "))

  /** First 15 hex chars of md5 as a 60-bit long — the JVM twin of the
    * engine/oracle device `conv(substring(md5(s), 1, 15), 16, 10)`
    * (7.5 bytes, big-endian). Streaming taps derive bucket ids and
    * parities from THIS so their verdicts replay in SQL.
    */
  private[graft] def md5Hash60(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val dig = md.digest(s.getBytes("UTF-8"))
    var v = 0L
    var b = 0
    while (b < 7) { v = (v << 8) | (dig(b) & 0xffL); b += 1 }
    (v << 4) | ((dig(7) & 0xf0L) >> 4)
  }

  /** One watermark verdict of [[watermarkDetectStream]] (encoder). */
  case class WatermarkVerdict(doc_id: Long, n_tr: Long, n_green: Long,
      scored: Boolean, flagged: Boolean)

  /** Streaming watermark detection — the online form of q186, sitting
    * at the same ingestion tap as [[decontamStream]]: score every
    * arriving document's green-transition fraction against the seeded
    * green-list key and flag one-sided z > 2 (2g > m ∧ (2g−m)² > 4m,
    * exact int64). Stateless, so verdicts are trivially batching /
    * order / replay invariant, and flagged (likely model-generated)
    * documents can be quarantined before they enter dedup state.
    * Green membership is [[md5Hash60]] parity of prev|cur|key — the
    * spec pins it bit-equal to q186's SQL md5-prefix identity.
    */
  def watermarkDetectStream(docs: Dataset[DocEvent],
      key: String = "wm1"): Dataset[WatermarkVerdict] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.map { d =>
      val toks = Option(d.text).getOrElse("").split("\\s+", -1)
      val m = math.max(0, toks.length - 1).toLong
      var g = 0L
      var i = 0
      while (i < toks.length - 1) {
        if (md5Hash60(toks(i) + "|" + toks(i + 1) + "|" + key) % 2 == 0)
          g += 1
        i += 1
      }
      val scored = m >= 16
      val dlt = 2 * g - m
      WatermarkVerdict(d.doc_id, m, g, scored,
        scored && dlt > 0 && dlt * dlt > 4 * m)
    }
  }

  /** One admission verdict of [[dsirAdmitStream]] (encoder). */
  case class DsirVerdict(doc_id: Long, weight: Long, admitted: Boolean)

  /** Streaming DSIR admission — q185's importance weight as an online
    * gate: each arriving document's hashed unigram+bigram buckets look
    * up a FROZEN 256-entry bit-cost-difference table (the q185 models
    * as serving config, derived once from a reference corpus by
    * `PipelineOps.dsirBitdiffs` — the Bm25Stats pattern) and the doc
    * admits when its summed weight clears the threshold. Stateless:
    * batching / order / replay invariant by construction; the spec
    * pins the JVM weights equal to batch q185's per-doc weights.
    *
    * Scale: the config is 256 longs broadcast once; per-doc work is
    * one digest per gram, no state, no shuffle — the admission tap
    * runs at ingest wire speed.
    */
  def dsirAdmitStream(docs: Dataset[DocEvent], bitdiff: Array[Long],
      threshold: Long): Dataset[DsirVerdict] = {
    require(bitdiff.length == 256, s"need 256 bucket costs, got ${bitdiff.length}")
    val s = docs.sparkSession
    import s.implicits._
    val bc = s.sparkContext.broadcast(bitdiff)
    docs.map { d =>
      val toks = Option(d.text).getOrElse("").split("\\s+", -1)
      var w = 0L
      var i = 0
      while (i < toks.length) {
        w += bc.value(((md5Hash60(toks(i)) % 256) + 256).toInt % 256)
        if (i + 1 < toks.length)
          w += bc.value(
            ((md5Hash60(toks(i) + " " + toks(i + 1)) % 256) + 256).toInt % 256)
        i += 1
      }
      DsirVerdict(d.doc_id, w, w >= threshold)
    }
  }

  /** One incoming document for the streaming packer (public: encoder). */
  case class PackDoc(doc_id: Long, source: String, n_tok: Long)
  /** Per-source packer state: the running token offset (public: encoder). */
  case class PackState(offset: Long)
  /** One loader-manifest row of the online packer (public: encoder). */
  case class PackRow(doc_id: Long, source: String, n_tok: Long,
      offset: Long, seq_first: Long, n_splits: Long)

  /** Streaming sequence packing — the online form of the q176 loader
    * manifest: as documents stream in, assign each its ABSOLUTE token
    * offset in the per-source concat-and-chunk order and derive the
    * 512-token-sequence fields (first sequence id, boundary-split
    * count). State per source is ONE long — the running offset — so a
    * loader can consume an unbounded corpus with bounded planner
    * state. Within a micro-batch the group sorts by doc_id, so the
    * assignment is batching-invariant for in-order (per-source
    * ascending doc_id) delivery: on any prefix of the corpus the
    * emitted rows equal the batch q176 manifest restricted to that
    * prefix, no matter how the prefix was sliced into batches. A
    * cumulative sum is order-DEPENDENT by nature, so cross-batch
    * out-of-order delivery is out of contract (feed through a reorder
    * buffer first — reorderStream — exactly as a loader replaying a
    * log would); within-batch scrambles are absorbed by the sort.
    *
    * Scale: the stateful exchange carries (id, source, n_tok) triples
    * — fixed-width, text never shuffles (the q155/release discipline);
    * per-source state is one long regardless of corpus size; emission
    * is one row per document with no amplification.
    */
  def packingStream(docs: Dataset[PackDoc],
      cap: Long = 512L): Dataset[PackRow] = {
    val s = docs.sparkSession
    import s.implicits._
    docs.groupByKey(_.source)
      .flatMapGroupsWithState[PackState, PackRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (source, it, state) =>
          var off = state.getOption.map(_.offset).getOrElse(0L)
          val out = it.toVector.sortBy(_.doc_id).map { e =>
            val first = off / cap
            val last = (off + math.max(e.n_tok, 1L) - 1L) / cap
            val row = PackRow(e.doc_id, source, e.n_tok, off,
              first, last - first)
            off += e.n_tok
            row
          }
          state.update(PackState(off))
          out.iterator
      }
  }

  def heavyHittersStream(docs: Dataset[DocEvent], windowSecs: Int, k: Int,
      watermark: String): Dataset[HeavyHitter] = {
    import docs.sparkSession.implicits._
    val windowMs = windowSecs * 1000L
    docs.toDF()
      .withWatermark("ts", watermark)
      .select(col("ts"), explode(split(col("text"), "\\s+")).as("tok"))
      // exact integer millis arithmetic in the key closure — no float
      // floor column, no positional coupling beyond (ts, tok)
      .groupByKey(r => r.getTimestamp(0).getTime / windowMs * windowMs)
      .flatMapGroupsWithState[MGState, HeavyHitter](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (wstart: Long, rows: Iterator[org.apache.spark.sql.Row],
            state: GroupState[MGState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            s.counts.toSeq.sortBy { case (t, c) => (-c, t) }.iterator
              .map { case (t, c) => HeavyHitter(new Timestamp(wstart), t, c, s.n) }
          } else {
            var s = state.getOption.getOrElse(MGState(Map.empty, 0L))
            rows.foreach { r =>
              s = MGState(
                graft.functions.MisraGries.update(s.counts, k, r.getString(1)),
                s.n + 1)
            }
            state.update(s)
            state.setTimeoutTimestamp(wstart + windowMs)
            Iterator.empty
          }
      }
  }

  /** Final per-window quantile estimates (public: encoder requirement). */
  case class WindowQuantiles(w_start: Timestamp, n_rows: Long,
      p50_est: Long, p95_est: Long, p99_est: Long)
  case class HistState(bins: Map[Long, Long])

  /** Streaming per-window price quantiles — the streaming form of the
    * batch q96 rollup: each event-time tumbling window keeps a
    * quarter-octave log₂ histogram ([[graft.functions.LogHistogram]],
    * ≤ ~128 bins regardless of event count) and emits p50/p95/p99
    * bin-lower-bound estimates (< 19% relative error) in append mode
    * when the watermark closes the window. Exact percentiles would need
    * the window's full value multiset in state; the histogram is the
    * standard bounded-state trade, and because histograms MERGE
    * (point-wise sum), the same summary rolls up across partitions or
    * re-tiers windows into coarser reports without touching raw events.
    */
  def histQuantilesStream(bids: Dataset[Bid], windowSecs: Int,
      watermark: String): Dataset[WindowQuantiles] = {
    import bids.sparkSession.implicits._
    import graft.functions.LogHistogram
    val windowMs = windowSecs * 1000L
    bids.withWatermark("b_date_time", watermark)
      .groupByKey(b => b.b_date_time.getTime / windowMs * windowMs)
      .flatMapGroupsWithState[HistState, WindowQuantiles](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (wstart: Long, events: Iterator[Bid], state: GroupState[HistState]) =>
          if (state.hasTimedOut) {
            val h = state.get.bins
            state.remove()
            Iterator(WindowQuantiles(new Timestamp(wstart), h.values.sum,
              LogHistogram.quantile(h, 50), LogHistogram.quantile(h, 95),
              LogHistogram.quantile(h, 99)))
          } else {
            var h = state.getOption.map(_.bins).getOrElse(Map.empty[Long, Long])
            events.foreach(b => h = LogHistogram.add(h, b.price.toLong))
            state.update(HistState(h))
            state.setTimeoutTimestamp(wstart + windowMs)
            Iterator.empty
          }
      }
  }

  /** One event on a funnel stream (public: encoder requirement). */
  case class FunnelEvent(user_id: Long, ts: Timestamp, event_type: String)

  /** Per-user funnel state: the user's step events so far (parallel
    * arrays — Spark tuple encoders handle primitives best) and the max
    * event time seen (public: encoder requirement).
    */
  case class FunnelState(times: Array[Long], steps: Array[Int], maxTs: Long)

  /** Funnel completion for one user (public: encoder requirement). */
  case class FunnelDepth(user_id: Long, depth: Int, n_events: Int)

  /** Reachable-set chain DP shared by [[funnelStream]] and its spec:
    * depth k is reached iff some step-k event follows a reachable
    * depth-(k-1) event by (0, gap]. Tracking ALL reachable chain ends is
    * required for correctness — the greedy earliest-end DP misses chains
    * whose earlier steps must start later (a later view can open a
    * window an earlier view already closed).
    */
  def funnelDepthOf(times: Array[Long], steps: Array[Int], nSteps: Int,
      gapMs: Long): Int = {
    var ends = times.indices.collect {
      case i if steps(i) == 0 => times(i)
    }.toSet
    var depth = if (ends.nonEmpty) 1 else 0
    var k = 1
    while (k < nSteps && ends.nonEmpty) {
      val nxt = times.indices.collect {
        case i if steps(i) == k &&
          ends.exists(p => times(i) > p && times(i) <= p + gapMs) => times(i)
      }.toSet
      if (nxt.nonEmpty) depth = k + 1
      ends = nxt
      k += 1
    }
    depth
  }

  /** Streaming funnel / sequence matcher — the streaming form of batch
    * q108 and the Flink-CEP / ClickHouse-windowFunnel shape: per user,
    * emit the deepest step-chain prefix (each gap ≤ `gapMs`, strictly
    * time-increasing) once the user has been idle past `idleCloseMs` in
    * EVENT time. Non-step events are filtered before keying, so state
    * buffers only the user's own step events — bounded by per-user
    * funnel activity, evicted on emission; out-of-order arrival within
    * the watermark is free because the DP runs over the buffered set at
    * close time, not incrementally.
    *
    * Scale: one shuffle keyed by user; state is per-user O(step events);
    * the timeout scan is Spark's state-store iteration, not a driver
    * loop. The same topology holds on a 1000-executor cluster — RocksDB
    * state + event-time timeout is the standard CEP deployment shape.
    */
  def funnelStream(ev: Dataset[FunnelEvent], steps: Seq[String],
      gapMs: Long, idleCloseMs: Long, watermark: String): Dataset[FunnelDepth] = {
    import ev.sparkSession.implicits._
    val stepIdx = steps.zipWithIndex.toMap
    val nSteps = steps.length
    ev.filter($"event_type".isin(steps: _*))
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelDepth](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, events: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(FunnelDepth(uid,
              funnelDepthOf(s.times, s.steps, nSteps, gapMs), s.times.length))
          } else {
            val prev = state.getOption
              .getOrElse(FunnelState(Array.empty, Array.empty, Long.MinValue))
            val evs = events.toArray
            val next = FunnelState(
              prev.times ++ evs.map(_.ts.getTime),
              prev.steps ++ evs.map(e => stepIdx(e.event_type)),
              math.max(prev.maxTs, evs.map(_.ts.getTime).max))
            state.update(next)
            state.setTimeoutTimestamp(next.maxTs + idleCloseMs)
            Iterator.empty
          }
      }
  }

  /** A query vector arriving on the serving stream (public: encoder
    * requirement). `qv` is in the engine's exact integer embedding space
    * (floor(1000·x + 0.5), as q37/q72/q90).
    */
  case class VecEvent(qid: Long, ts: Timestamp, qv: Array[Long])

  /** One nearest-neighbor match (public: encoder requirement). */
  case class KnnMatch(qid: Long, rank: Int, vec_id: Long, dist: Long)

  /** Streaming top-k vector search against a static index — the serving
    * half of the similarity-search surface (batch build: q37 brute
    * force, q40 IVF, q90 PQ, q105 IVF-PQ). Each arriving query vector is
    * scored against the broadcast index and emits its k nearest
    * neighbors immediately: queries are independent, so the operator is
    * STATELESS (append mode, no watermark, no state store) and scales
    * by partitioning the query stream alone. Distances are exact int64
    * squared-L2 in the shared quantized space with (dist, vec_id)
    * tie-break — deterministic under any arrival order.
    *
    * Scale: the index rides a task-broadcast (swap in an IVF/PQ
    * structure for billion-vector indexes — same operator shape, the
    * per-event scan just routes to probed cells); per-event cost is
    * O(index · dim) here, O(probes · dim) with routing. The bounded
    * top-k buffer is O(k).
    */
  def knnStream(qs: Dataset[VecEvent], index: Array[(Long, Array[Long])],
      k: Int): Dataset[KnnMatch] = {
    import qs.sparkSession.implicits._
    // The index is static: a ragged index is a build bug, so fail at
    // construction, not per-event.
    val dims = index.map(_._2.length).distinct
    require(dims.length <= 1,
      s"knnStream index has mixed dimensions: ${dims.sorted.mkString(",")}")
    val indexDim = dims.headOption.getOrElse(0)
    val bIndex = qs.sparkSession.sparkContext.broadcast(index)
    qs.flatMap { q =>
      // A query whose dimension disagrees with the index is corrupt input.
      // Truncating to the shorter vector would score it on a silently
      // wrong subspace — emit one explicit sentinel (rank -1, no
      // neighbor) instead, so serving consumers can count/alert on
      // rank = -1 while well-formed traffic flows on.
      if (q.qv.length != indexDim)
        Iterator.single(KnnMatch(q.qid, -1, -1L, -1L))
      else {
      val idx = bIndex.value
      // bounded insertion into a k-sized buffer ordered by (dist, vec_id)
      val top = new scala.collection.mutable.ArrayBuffer[(Long, Long)](k + 1)
      idx.foreach { case (id, v) =>
        var dist = 0L
        var i = 0
        val len = v.length
        while (i < len) {
          val d = q.qv(i) - v(i); dist += d * d; i += 1
        }
        val beatsWorst = top.lastOption.exists { case (bd, bid) =>
          dist < bd || (dist == bd && id < bid)
        }
        if (top.size < k || beatsWorst) {
          val at = top.indexWhere { case (bd, bid) =>
            dist < bd || (dist == bd && id < bid)
          }
          top.insert(if (at < 0) top.size else at, (dist, id))
          if (top.size > k) top.remove(k)
        }
      }
      top.iterator.zipWithIndex.map { case ((dist, id), r) =>
        KnnMatch(q.qid, r + 1, id, dist)
      }
      }
    }
  }

  /** Streaming BINARY-QUANTIZED vector serving — [[knnStream]]'s scan
    * with the q191 two-stage plan: the broadcast index is packed ONCE
    * at construction into 64-bit sign codes (16 logical bytes per
    * entry), each query Hamming-scans the codes (two xor+popcount per
    * candidate) into a bounded (ham, id)-ordered shortlist, and only
    * the shortlist is re-ranked with the exact integer L2. With
    * `shortlist >= index size` the refine pass IS the exact scan, so
    * the stream is bit-equal to [[knnStream]] — the spec pins that —
    * and the shortlist knob trades recall for a memory-bandwidth cut
    * recorded at 32 cpus as 14.0k binary vs 7.9k exact queries/s
    * (BENCH_r15.json `binary_qps`, `knn_qps`).
    * Per-event work is stateless (no keyed state, any batching), and a
    * dimension-mismatched query emits the same rank -1 sentinel as
    * [[knnStream]]. Dimensions past 64 would need more code words —
    * construction fails loudly rather than silently truncating.
    */
  def binaryAnnStream(qs: Dataset[VecEvent],
      index: Array[(Long, Array[Long])], shortlist: Int,
      k: Int): Dataset[KnnMatch] = {
    import qs.sparkSession.implicits._
    val dims = index.map(_._2.length).distinct
    require(dims.length <= 1,
      s"binaryAnnStream index has mixed dimensions: ${dims.sorted.mkString(",")}")
    require(dims.headOption.forall(_ <= 64),
      s"binaryAnnStream packs sign bits into one 64-bit code pair; dim ${dims.head} > 64")
    require(shortlist >= k, s"shortlist $shortlist < k $k")
    val indexDim = dims.headOption.getOrElse(0)
    def pack(v: Array[Long]): (Long, Long) = {
      var w0 = 0L; var w1 = 0L; var i = 0
      while (i < v.length) {
        if (v(i) > 0) { if (i < 32) w0 |= 1L << i else w1 |= 1L << (i - 32) }
        i += 1
      }
      (w0, w1)
    }
    val packed: Array[(Long, Long, Long, Array[Long])] = index.map {
      case (id, v) => val (w0, w1) = pack(v); (id, w0, w1, v)
    }
    val bIndex = qs.sparkSession.sparkContext.broadcast(packed)
    qs.flatMap { q =>
      if (q.qv.length != indexDim)
        Iterator.single(KnnMatch(q.qid, -1, -1L, -1L))
      else {
        val idx = bIndex.value
        val (qw0, qw1) = pack(q.qv)
        // stage 1: bounded (ham, id) shortlist over the packed codes,
        // maintained by BINARY-SEARCH insert — the first cut's
        // indexWhere + lastOption pair was two linear scans per
        // candidate, O(index × shortlist) as the width knob grows;
        // this is O(index × log shortlist) comparisons (the insert's
        // memmove is an arraycopy, not a comparison scan)
        val short =
          new scala.collection.mutable.ArrayBuffer[(Long, Int)](shortlist + 1)
        def shortPos(ham: Long, id: Long): Int = {
          var lo = 0; var hi = short.size
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            val (mh, mp) = short(mid)
            if (ham < mh || (ham == mh && id < idx(mp)._1)) hi = mid
            else lo = mid + 1
          }
          lo
        }
        var p = 0
        while (p < idx.length) {
          val e = idx(p)
          val ham = (java.lang.Long.bitCount(e._2 ^ qw0)
            + java.lang.Long.bitCount(e._3 ^ qw1)).toLong
          if (short.size < shortlist ||
              { val (lh, lp) = short(short.size - 1)
                ham < lh || (ham == lh && e._1 < idx(lp)._1) }) {
            short.insert(shortPos(ham, e._1), (ham, p))
            if (short.size > shortlist) short.remove(shortlist)
          }
          p += 1
        }
        // stage 2: exact integer L2 re-rank of the shortlist only —
        // same binary-search discipline on the (dist, id) key
        val top = new scala.collection.mutable.ArrayBuffer[(Long, Long)](k + 1)
        def topPos(dist: Long, id: Long): Int = {
          var lo = 0; var hi = top.size
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            val (md, mi) = top(mid)
            if (dist < md || (dist == md && id < mi)) hi = mid
            else lo = mid + 1
          }
          lo
        }
        short.foreach { case (_, pos) =>
          val e = idx(pos)
          var dist = 0L; var i = 0
          while (i < e._4.length) {
            val d = q.qv(i) - e._4(i); dist += d * d; i += 1
          }
          if (top.size < k ||
              { val (ld, li) = top(top.size - 1)
                dist < ld || (dist == ld && e._1 < li) }) {
            top.insert(topPos(dist, e._1), (dist, e._1))
            if (top.size > k) top.remove(k)
          }
        }
        top.iterator.zipWithIndex.map { case ((dist, id), r) =>
          KnnMatch(q.qid, r + 1, id, dist)
        }
      }
    }
  }

  /** Streaming top-k vector serving from the PERSISTED index — the tier
    * [[knnStream]] approximates with a broadcast in-memory array: each
    * micro-batch of queries runs [[graft.operators.IvfIndex.serve]]
    * against the STORED centroids and postings and hands the ranked
    * matches to `emit` with the batch id. The store is re-opened from
    * its manifest on EVERY trigger, so a generation committed by a
    * concurrent [[indexIngestStream]] — or a compaction or cell split —
    * is visible to the very next batch: the reader side of the index's
    * manifest snapshot protocol, with no restart.
    *
    * Retention contract: binding a batch to the manifest it opened does
    * NOT protect that manifest's FILES — under
    * `spark.graft.index.retainEpochs = 1` a concurrent mutation's
    * inline GC may reclaim the superseded generation directories the
    * moment its commit lands, failing a serve batch mid-scan. A serve
    * stream that shares its directory with a mutating stream therefore
    * needs one epoch of slack, so construction REQUIRES the conf at 2
    * or higher (enforced here because the wrapper cannot know whether a
    * mutator shares the directory; on a static index the wider window
    * costs nothing — no mutation, no GC). The conf is read per-sweep by
    * the WRITER's GC, so in a multi-session deployment the writer's
    * session must carry it too.
    *
    * Scale: per trigger the query batch broadcasts (bounded by the
    * trigger interval), the manifest re-read is one small-file open,
    * and the posting scan is pruned to the batch's probed cells — the
    * serve cost tracks nprobe/nlists of the corpus per batch exactly
    * like the batch serve, regardless of stream length. The store is
    * served from the per-generation serving cache
    * ([[graft.operators.IvfIndex.serveCached]],
    * [[graft.operators.ServingCache]]): each trigger re-reads the
    * manifest, and a commit between triggers costs the next batch only
    * what it changed — an ingest pins its one new generation, a delete
    * adds a tombstone id set to the mask, a compaction swaps the pins of
    * the cells it folded — so a trigger runs a constant number of jobs
    * at any epoch.
    */
  def knnIndexServeStream(qs: Dataset[VecEvent], dir: String,
      probes: Int = 2, k: Int = 5)(
      emit: (DataFrame, Long) => Unit): StreamingQuery = {
    requireServeRetention(qs.sparkSession)
    toForeachBatch(qs.toDF(), OutputMode.Append) { (batch, batchId) =>
      if (!batch.isEmpty)
        emit(graft.operators.IvfIndex.serveCached(batch.sparkSession, dir,
          batch.select(col("qid").as("vec_id"), col("qv")), probes, k),
          batchId)
    }
  }

  /** Streaming serve from the PERSISTED binary tier — the store-stream
    * corner of the binary serving matrix (q191 batch / binaryAnnStream
    * broadcast / q195 store): each micro-batch of query vectors packs
    * its own codes and runs [[graft.operators.BinaryStore.serve]]
    * against the stored relations on its cached path: the store's
    * live generations are pinned in executor memory once each
    * ([[graft.operators.ServingCache]]) and only the one-line manifest
    * is re-read per trigger, so a generation committed by a concurrent
    * ingest, a delete, or a compaction is visible to the very next
    * batch, which pins only what the commit changed (spec-pinned
    * batch-equal across a mid-stream commit). Shortlist and refine run
    * as one fused plan, a constant number of jobs per trigger at any
    * epoch. Same retention contract as the index serve streams: a
    * shared-directory mutator's GC needs one epoch of slack.
    */
  def binaryStoreServeStream(qs: Dataset[VecEvent], dir: String,
      k: Int = 5, width: Int = 20)(
      emit: (DataFrame, Long) => Unit): StreamingQuery = {
    requireServeRetention(qs.sparkSession)
    toForeachBatch(qs.toDF(), OutputMode.Append) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val s = batch.sparkSession
        val queries = graft.operators.VectorOps.binaryCodes(
          batch.select(col("qid").as("vec_id"), col("qv")))
          .select(col("vec_id").as("query_id"), col("qv").as("q_qv"),
            col("w0").as("qw0"), col("w1").as("qw1"))
        emit(graft.operators.BinaryStore.serve(s, dir, queries, k, width,
          cached = true),
          batchId)
      }
    }
  }

  /** STREAMING EMBEDDING-DRIFT MONITOR — the online half of the batch
    * drift entry (q174): each micro-batch of incoming vectors is
    * assigned to the REFERENCE centroids (one broadcast-argmin pass,
    * the same routing structure the index serves by) and reduced to
    * one row — batch size, total-variation distance of the batch's
    * cell-occupancy distribution vs the reference distribution
    * (`refCounts`: (cid, n_c) from the corpus the quantizer was
    * trained on; q174's integer cross-multiplied permille), and the
    * batch's mean quantization distortion. The emitted row stream is
    * the alert feed a serving deployment watches: TVD jump = routing
    * skew building against the trained cells (stale centroids, skewed
    * serve); distortion jump = out-of-manifold content (retrain/split
    * time) — caught while the batch is in flight, not at the next
    * offline audit.
    *
    * Stateless per trigger (reference tables are fixed monitor
    * config — broadcast, nlists-sized): any batch rate monitors at
    * constant memory, and a restart needs no state recovery.
    */
  def driftMonitorStream(vecs: Dataset[IndexVec], cents: DataFrame,
      refCounts: DataFrame)(
      emit: (DataFrame, Long) => Unit): StreamingQuery = {
    val s = vecs.sparkSession
    import s.implicits._
    // the reference frame left-joins refCounts from the centroid table,
    // so a refCounts row keyed to a cell the centroid table lacks would
    // be silently EXCLUDED from n_ref — a refCounts table built against
    // a stale/different centroid version would skew tvd_permille
    // instead of erroring. Validate the subset driver-side before the
    // stream starts (both tables are nlists-sized monitor config).
    val centCids = cents.select($"cid".cast("long").as("cid"))
      .as[Long].collect().toSet
    val orphanCids = refCounts.select($"cid".cast("long").as("cid"))
      .as[Long].collect().filterNot(centCids.contains)
    require(orphanCids.isEmpty,
      s"driftMonitorStream: refCounts names cell(s) " +
        s"${orphanCids.sorted.take(5).mkString(", ")} absent from the " +
        "centroid table — the reference counts were built against a " +
        "different centroid version; rebuild them from this quantizer")
    // frame over the CENTROID table (every routable cell), so batch
    // mass landing in a cell the reference never occupied still
    // contributes its full |n_bc·N_ref − 0| drift term
    val ref = cents.select($"cid".cast("long").as("cid"))
      .join(refCounts.select($"cid".cast("long").as("cid"),
        $"n_c".cast("long").as("n_c")), Seq("cid"), "left")
      .withColumn("n_c", coalesce($"n_c", lit(0L)))
      .localCheckpoint(true)
    val refTot = ref.groupBy().agg(sum($"n_c").as("n_ref"))
    toForeachBatch(vecs.toDF(), OutputMode.Append) { (batch, batchId) =>
      if (!batch.isEmpty) {
        val assigned = graft.operators.VectorOps.argminPacked(
          batch.select($"vec_id", $"qv"), cents)
        val bc = assigned.groupBy($"cid").agg(count(lit(1)).as("n_bc"))
        val bTot = assigned.groupBy()
          .agg(count(lit(1)).as("n_b"), sum($"dist").as("dsum"))
        val row = ref.join(bc, Seq("cid"), "left")
          .withColumn("n_bc", coalesce($"n_bc", lit(0L)))
          .crossJoin(broadcast(bTot)).crossJoin(broadcast(refTot))
          .groupBy()
          .agg(sum(abs($"n_bc" * $"n_ref" - $"n_c" * $"n_b")).as("num"),
            first($"n_b").as("n_vecs"), first($"dsum").as("dsum"),
            first($"n_ref").as("n_ref2"))
          .select($"n_vecs",
            expr("500 * num div (n_vecs * n_ref2)").as("tvd_permille"),
            expr("dsum div n_vecs").as("mean_dist"))
        emit(row, batchId)
      }
    }
  }

  /** See the retention contract on [[knnIndexServeStream]]. */
  private def requireServeRetention(s: SparkSession): Unit = {
    val n = graft.operators.FlatManifest.retainEpochs(s)
    require(n >= 2,
      s"index serve streams need spark.graft.index.retainEpochs >= 2 " +
        s"(got $n): with a 1-epoch window, a concurrent mutating " +
        "stream's GC can reclaim the generation directories a serve " +
        "batch is scanning the moment a newer epoch commits")
  }

  /** A rate/reference-data update on the right side of a streaming as-of
    * join (public: encoder requirement).
    */
  case class RateUpdate(rkey: Int, rtime: Timestamp, rate: Double)
  case class PricedBid(auction: Int, bidder: Int, price: Int,
      b_date_time: Timestamp, rate: Double)
  // public: Spark encoders need a public case class at codegen time
  case class AsOfTagged(key: Int, t: Long, bid: Option[Bid],
      rate: Option[RateUpdate])

  /** One corpus vector for the online index-maintenance sink (public:
    * encoder requirement). Same quantized int64 space as [[VecEvent]].
    */
  case class IndexVec(vec_id: Long, qv: Array[Long])

  /** Online maintenance of the PERSISTED IVF index ([[graft.operators.IvfIndex]]):
    * each micro-batch of corpus vectors is assigned to the stored cells
    * in one broadcast-argmin pass and committed as its own posting
    * GENERATION (gen = batchId + 1 — deterministic, and the index
    * manifest records every committed generation, so a replayed batch
    * under at-least-once foreachBatch recovery is a no-op if its
    * generation committed and a dynamic-partition-overwrite re-write of
    * the same files if it crashed mid-attempt: exactly-once index
    * contents either way, even when a compaction ran in between). Every
    * `compactEvery` batches the accumulated generations fold back to
    * logical gen 0 via [[graft.operators.IvfIndex.compact]], so serve-path read
    * amplification (files per cell) stays bounded by compactEvery × the
    * batch file count instead of growing with stream length — the LSM
    * write/compact discipline, which is exactly how a streaming vector
    * store keeps ingest append-only AND queries fast.
    *
    * Scale: per batch the only corpus-sized relation is the batch
    * itself (centroids broadcast, one map-side-combined argmin); the
    * periodic compaction rewrites only cells holding >1 generation —
    * bounded by ingest volume since the last fold, never the base.
    */
  def indexIngestStream(vecs: Dataset[IndexVec], dir: String,
      compactEvery: Long = 4L): StreamingQuery =
    toForeachBatch(vecs.toDF(), OutputMode.Append) { (batch, batchId) =>
      val s = batch.sparkSession
      if (!batch.isEmpty) {
        graft.operators.IvfIndex.addBatch(s, dir,
          batch.select(col("vec_id"), col("qv")), gen = batchId + 1)
        if ((batchId + 1) % compactEvery == 0)
          graft.operators.IvfIndex.compact(s, dir)
      }
    }

  /** CONDITION-DRIVEN index maintenance — the auto-maintainer a
    * deployment runs beside streaming ingest. [[indexIngestStream]]
    * compacts on a blind cadence (every Nth batch) whether or not the
    * store needs it; this variant derives each trigger's maintenance
    * from OBSERVED state:
    *   - SPLIT when the ingest's own occupancy report flags a hot cell
    *     (`needs_split`: a cell holding > 1/8 of the corpus), bounding
    *     per-probe candidate mass before skew degrades serve latency;
    *   - COMPACT when any cell's LIVE generation count exceeds
    *     `maxGens` (a serve reads one directory per live generation
    *     per probed cell — the read-amplification bound), or when
    *     pending tombstone sets exceed `maxTombs` (each pending set
    *     rides every serve's anti-join mask; deletes may arrive out of
    *     band from this stream).
    * The compaction decision reads ONLY the committed manifest —
    * O(nlists) metadata, no data scan; the split decision reuses the
    * occupancy report [[graft.operators.IvfIndex.addBatch]] already
    * computes for its return value. Exactly-once is untouched:
    * maintenance commits its own epochs under the manifest protocol,
    * and a replayed data batch remains a metadata no-op whose
    * maintenance re-check is idempotent (state already within bounds).
    */
  def indexMaintainStream(vecs: Dataset[IndexVec], dir: String,
      maxGens: Int = 4, maxTombs: Int = 2,
      splitHotCells: Boolean = true): StreamingQuery =
    toForeachBatch(vecs.toDF(), OutputMode.Append) { (batch, batchId) =>
      val s = batch.sparkSession
      if (!batch.isEmpty) {
        val rep = graft.operators.IvfIndex.addBatch(s, dir,
          batch.select(col("vec_id"), col("qv")), gen = batchId + 1)
        if (splitHotCells &&
            rep.filter(col("needs_split") === 1L).limit(1).count() > 0)
          graft.operators.IvfIndex.splitCells(s, dir)
        val snap = graft.operators.IvfIndex.readSnapshot(s, dir)
        val maxLive = snap.cells.values.map(_.size).foldLeft(0)(math.max)
        if (maxLive > maxGens || snap.tombs.size > maxTombs)
          graft.operators.IvfIndex.compact(s, dir)
      }
    }

  /** CONDITION-DRIVEN maintenance for the PQ-COMPRESSED store, with the
    * missing last wire: [[driftMonitorStream]]'s signal actually
    * TRIGGERING the maintenance it exists to schedule. Per batch:
    *   - ingest: [[graft.operators.IvfIndex.addBatchPq]] (one
    *     assign+encode pass, exactly-once generation = batchId + 1);
    *   - drift check: the batch's cell-occupancy TVD vs the reference
    *     distribution (`refCounts`, q174's integer permille — computed
    *     DRIVER-SIDE from the nlists-row occupancy rollup, O(nlists)
    *     arithmetic); when it exceeds `retrainTvd`, the stream runs
    *     [[graft.operators.IvfIndex.retrainPq]] against `corpus` (the
    *     full-precision source of truth, which must cover every live
    *     id — the refine tier's lookup store in a deployment): the
    *     codebook re-trains on the LIVE residuals (drifted mass
    *     included) and every posting re-encodes under a new codebook
    *     VERSION. Serving is never interrupted: the retrain commits a
    *     new epoch under the manifest protocol, a concurrent serve
    *     stream's per-epoch metadata cache picks the new codebook up
    *     on its next trigger, and `serveAt`/`servePqAt` of the
    *     pre-retrain epoch still decode with the OLD codebook
    *     (retainEpochs permitting). A retrain on an UNdrifted corpus
    *     is a pure version flip: same seeds, same residuals, same
    *     fixed training rounds ⇒ bit-identical codebook ⇒ bit-equal
    *     serving (RetrainStreamSpec pins exactly that);
    *   - compaction: when live generations exceed `maxGens` or pending
    *     tombstone sets exceed `maxTombs` (the [[indexMaintainStream]]
    *     read-amplification bounds — O(nlists) manifest metadata).
    *
    * PQ stores take no cell splits (codes are codebook-relative per
    * cell; coarse centroids are fixed at build), so the reference
    * centroid table is loaded once and `refCounts` is validated
    * against it up front (the [[driftMonitorStream]] guard).
    *
    * Scale: the per-batch drift check is one broadcast-argmin pass
    * over the BATCH plus nlists rows collected; the retrain is by
    * construction a full-index rewrite — the most expensive
    * maintenance op, which is exactly why it fires on a measured
    * threshold instead of a blind cadence.
    */
  def pqIndexMaintainStream(vecs: Dataset[IndexVec], dir: String,
      corpus: DataFrame, refCounts: DataFrame,
      retrainTvd: Long = 300L, maxGens: Int = 4,
      maxTombs: Int = 2): StreamingQuery = {
    val s0 = vecs.sparkSession
    import s0.implicits._
    val cents = graft.operators.IvfIndex.centroids(s0, dir)
      .select($"cid".cast("long").as("cid"), $"cq").localCheckpoint(true)
    val refMap = refCounts
      .select($"cid".cast("long").as("cid"), $"n_c".cast("long").as("n_c"))
      .as[(Long, Long)].collect().toMap
    val centCids = cents.select($"cid").as[Long].collect().toSet
    val orphan = refMap.keys.filterNot(centCids.contains)
    require(orphan.isEmpty,
      s"pqIndexMaintainStream: refCounts names cell(s) " +
        s"${orphan.toSeq.sorted.take(5).mkString(", ")} absent from the " +
        "store's centroid table — rebuild the reference from this store")
    val refTot = refMap.values.sum
    require(refTot > 0, "pqIndexMaintainStream: empty drift reference")
    toForeachBatch(vecs.toDF(), OutputMode.Append) { (batch, batchId) =>
      val s = batch.sparkSession
      if (!batch.isEmpty) {
        graft.operators.IvfIndex.addBatchPq(s, dir,
          batch.select(col("vec_id"), col("qv")), gen = batchId + 1)
        // q174's integer TVD, folded driver-side from nlists rows
        val bc = graft.operators.VectorOps.argminPacked(
            batch.select(col("vec_id"), col("qv")), cents)
          .groupBy(col("cid")).agg(count(lit(1)).as("n_bc"))
          .select(col("cid").cast("long"), col("n_bc").cast("long"))
          .as[(Long, Long)].collect().toMap
        val nB = bc.values.sum
        val num = centCids.toSeq.map { c =>
          (BigInt(bc.getOrElse(c, 0L)) * refTot -
            BigInt(refMap.getOrElse(c, 0L)) * nB).abs
        }.sum
        val tvd = (BigInt(500) * num / (BigInt(nB) * refTot)).toLong
        if (tvd > retrainTvd)
          graft.operators.IvfIndex.retrainPq(s, dir, corpus)
        val snap = graft.operators.IvfIndex.readSnapshot(s, dir)
        val maxLive = snap.cells.values.map(_.size).foldLeft(0)(math.max)
        if (maxLive > maxGens || snap.tombs.size > maxTombs)
          graft.operators.IvfIndex.compact(s, dir)
      }
    }
  }

  /** [[indexIngestStream]] for the PQ-COMPRESSED store: each batch is
    * assigned AND encoded in one pass ([[graft.operators.IvfIndex.addBatchPq]] —
    * the immutable codebook rides the expression tree, so streaming
    * ingest ships 8 logical bytes per vector into the posting layout),
    * same generation-per-batch exactly-once discipline, same compaction
    * cadence (compact is layout-agnostic). This is the write half of a
    * streaming vector store whose serving tier runs on packed codes.
    */
  def pqIndexIngestStream(vecs: Dataset[IndexVec], dir: String,
      compactEvery: Long = 4L): StreamingQuery =
    toForeachBatch(vecs.toDF(), OutputMode.Append) { (batch, batchId) =>
      val s = batch.sparkSession
      if (!batch.isEmpty) {
        graft.operators.IvfIndex.addBatchPq(s, dir,
          batch.select(col("vec_id"), col("qv")), gen = batchId + 1)
        if ((batchId + 1) % compactEvery == 0)
          graft.operators.IvfIndex.compact(s, dir)
      }
    }

  /** The FLAT-store ingest sink shared by the three stores below: each
    * micro-batch commits as generation batchId + 1 through
    * [[graft.operators.GenStore]]'s exactly-once ingest — the
    * manifest's bounded watermark makes a replayed batch a no-op — and
    * maintenance is CONDITION-driven rather than a blind cadence:
    * compact when live generations exceed `maxGens` (a serve reads one
    * directory set per live generation — the read-amplification bound)
    * or pending tombstone sets exceed `maxTombs` (each pending set
    * rides every serve's anti-join mask; deletes may arrive out of band
    * from this stream). The check reads ONLY the committed manifest —
    * O(1) metadata, no data scan — and is idempotent under replay.
    */
  private def flatIngestStream(events: DataFrame, dir: String,
      store: graft.operators.GenStore, maxGens: Int, maxTombs: Int)(
      rows: DataFrame => DataFrame): StreamingQuery =
    toForeachBatch(events, OutputMode.Append) { (batch, batchId) =>
      val s = batch.sparkSession
      if (!batch.isEmpty) {
        store.ingest(s, dir, rows(batch), gen = batchId + 1)
        val snap = graft.operators.FlatManifest.read(s, dir)
        if (snap.gens.length > maxGens || snap.tombs.length > maxTombs)
          store.compact(s, dir)
      }
    }

  /** [[indexIngestStream]] for the FLAT 1-bit store
    * ([[graft.operators.BinaryStore]]) on [[flatIngestStream]]. A
    * concurrent [[binaryStoreServeStream]] picks each committed epoch up
    * on its next trigger (the per-generation serving cache pins the new
    * generation) under the shared retention contract.
    */
  def binaryIngestStream(vecs: Dataset[IndexVec], dir: String,
      maxGens: Int = 4, maxTombs: Int = 2): StreamingQuery =
    flatIngestStream(vecs.toDF(), dir, graft.operators.BinaryStore,
      maxGens, maxTombs)(identity)

  /** [[binaryIngestStream]] for the IVF-ROUTED binary store
    * ([[graft.operators.IvfBinaryStore]]): the batch assigns against
    * the STORED router (fixed at build — cell membership is a pure
    * function of the vector) and lands cell-partitioned under its own
    * generation.
    */
  def ivfBinaryIngestStream(vecs: Dataset[IndexVec], dir: String,
      maxGens: Int = 4, maxTombs: Int = 2): StreamingQuery =
    flatIngestStream(vecs.toDF(), dir, graft.operators.IvfBinaryStore,
      maxGens, maxTombs)(identity)

  /** [[flatIngestStream]] for the MaxSim chunk store
    * ([[graft.operators.MaxSimStore]]): each micro-batch of documents
    * chunks, hashes, and vectorizes in flight (batch-bounded work) and
    * commits under the df-at-commit prefix rule (the batch's posting
    * prefixes are chosen under stored + batch df — deterministic per
    * generation, exactly the q203 oracle's scope).
    */
  def maxSimIngestStream(docsDs: Dataset[DocEvent], dir: String,
      maxGens: Int = 4, maxTombs: Int = 2): StreamingQuery =
    flatIngestStream(docsDs.toDF(), dir, graft.operators.MaxSimStore,
      maxGens, maxTombs)(_.withColumn("toks", split(col("text"), "\\s+"))
        .select(col("doc_id"), col("toks")))

  /** One admission verdict of [[semDedupStream]] (public: encoder
    * requirement). `dup_of` = the kept member the newcomer duplicated
    * (−1 when admitted).
    */
  case class SemVerdict(vec_id: Long, ts: Timestamp, cell: String,
      is_dropped: Boolean, dup_of: Long)

  /** Per-leaf admitted members within the horizon (public: encoder
    * requirement). Parallel arrays: ids, event-time millis, norms,
    * vectors.
    */
  case class SemCellState(ids: Array[Long], tss: Array[Long],
      n2s: Array[Long], qvs: Array[Array[Long]])

  /** ONLINE SemDeDup — the streaming sibling of q181, the semantic
    * member the streaming dedup family was missing (exact:
    * [[dedupExactStream]]; lexical near-dup: [[nearDupLshStream]]).
    * Each arriving vector routes through the CAPPED quantizer's split
    * tree ([[graft.operators.VectorOps.CappedQuantizer]] — base argmin
    * then median-threshold walks, broadcast serving config trained
    * offline on a reference corpus), and within its LEAF cell the
    * online admission rule runs: DROP the newcomer if its
    * exact-integer cosine crosses 2/5 against ANY member admitted
    * within the watermark horizon, else admit it into the leaf state.
    * Online semantics are greedy-first-wins (an admitted member is
    * never retroactively dropped — q181's batch form can instead keep
    * the more central copy because it sees all pairs); under ordered
    * delivery the verdicts are deterministic and batching-invariant
    * (the spec pins both), and the horizon ages state out exactly like
    * the other dedup streams.
    *
    * Scale: state per leaf is the ADMITTED members within the horizon
    * — the leaf cap bounds the reference corpus's leaf population, and
    * admission (dedup) plus the TTL bound the stream's; each verdict
    * compares against one leaf's members only, never the corpus. The
    * groupByKey shuffles (id, ts, qv, cell) rows keyed by leaf —
    * leaf populations are cap-bounded by construction, so no hot keys.
    * Routing is a per-row O(nlists + depth) computation against the
    * broadcast config. Vector norms must respect the exact-int64
    * cosine bound (n2 ≤ 9.6e7 — the q178/q181 operand discipline),
    * enforced loudly per row.
    */
  def semDedupStream(vecs: Dataset[VecEvent],
      quant: graft.operators.VectorOps.CappedQuantizer,
      watermark: String, horizonMs: Long): Dataset[SemVerdict] = {
    import vecs.sparkSession.implicits._
    val routed = vecs
      .map(v => (v.qid, v.ts, v.qv, quant.route(v.qv)))
      .toDF("vec_id", "ts", "qv", "cell")
      .withWatermark("ts", watermark)
      .as[(Long, Timestamp, Array[Long], String)]
    routed.groupByKey(_._4)
      .flatMapGroupsWithState[SemCellState, SemVerdict](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (cell, rowsIt, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            def dot(a: Array[Long], b: Array[Long]): Long = {
              var s = 0L; var i = 0
              while (i < a.length) { s += a(i) * b(i); i += 1 }
              s
            }
            val batch = rowsIt.toArray
            java.util.Arrays.sort(batch,
              Ordering.by((r: (Long, Timestamp, Array[Long], String)) =>
                (r._2.getTime, r._1)))
            var kept = state.getOption.getOrElse(SemCellState(
              Array.empty, Array.empty, Array.empty, Array.empty))
            val out = scala.collection.mutable.ArrayBuffer[SemVerdict]()
            batch.foreach { case (id, ts, qv, _) =>
              // age out BEFORE comparing: a duplicate of a member that
              // left the horizon must re-admit even when both land in
              // one micro-batch — the same rule the driver replay runs
              val newestSoFar = math.max(ts.getTime,
                if (kept.tss.isEmpty) 0L else kept.tss.max)
              val live = kept.tss.indices
                .filter(i => kept.tss(i) >= newestSoFar - horizonMs)
              if (live.size != kept.ids.length)
                kept = SemCellState(live.map(kept.ids).toArray,
                  live.map(kept.tss).toArray, live.map(kept.n2s).toArray,
                  live.map(kept.qvs).toArray)
              val n2 = dot(qv, qv)
              // bound: with both norms <= 6e8, n2*n2b*4 <= 1.44e18
              // and (Cauchy-Schwarz) d^2*25 <= 9.0e18 < 2^63 - the
              // q178 discipline without its extra permille factor
              require(n2 <= 600000000L,
                s"semDedupStream: vector $id norm2 $n2 overflows the " +
                  "exact int64 cosine bound (<= 6e8)")
              var dupOf = -1L
              var i = 0
              while (dupOf < 0 && i < kept.ids.length) {
                val d = dot(qv, kept.qvs(i))
                if (d > 0 && d * d * 25L >= n2 * kept.n2s(i) * 4L)
                  dupOf = kept.ids(i)
                i += 1
              }
              if (dupOf >= 0)
                out += SemVerdict(id, ts, cell, is_dropped = true, dupOf)
              else {
                kept = SemCellState(kept.ids :+ id,
                  kept.tss :+ ts.getTime, kept.n2s :+ n2,
                  kept.qvs :+ qv)
                out += SemVerdict(id, ts, cell, is_dropped = false, -1L)
              }
            }
            val newest = math.max(batch.map(_._2.getTime).max,
              if (kept.tss.isEmpty) 0L else kept.tss.max)
            state.update(kept)
            state.setTimeoutTimestamp(newest + horizonMs)
            out.iterator
          }
      }
  }

  /** A hybrid-retrieval query: text for the lexical side, a quantized
    * embedding for the dense side (public: encoder requirement).
    */
  case class HybridQuery(qid: Long, ts: Timestamp, text: String,
      qv: Array[Long])

  /** STREAMING HYBRID RETRIEVAL — q163's serving sibling, the one
    * retrieval operator that was still batch-only: per micro-batch of
    * queries, the LEXICAL side scores q112's exact-rational BM25 over
    * the query's 5 rarest shared terms against the corpus-constant
    * statistics (computed ONCE as serving config — checkpointed here,
    * the df-bounded "index" of the sparse system), the DENSE side
    * serves top-20 from the PERSISTED IVF store
    * ([[graft.operators.IvfIndex.serveCached]] — manifest re-read per
    * trigger, live generations pinned once each, probed cells joined in
    * memory), and the
    * two rankings fuse by integer Reciprocal Rank Fusion (K = 60) into
    * the top-k per query. All three stages are the exact code q163 and
    * the batch reference share ([[graft.operators.TextOps.bm25SparseTop]] /
    * [[graft.operators.TextOps.rrfFuse]]), so stream == batch at every
    * batching boundary (HybridStreamSpec pins it); q163's exact
    * brute-force dense side is exactly the slot the stored serve fills
    * in deployment.
    *
    * Same retention contract as [[knnIndexServeStream]]
    * (retainEpochs ≥ 2, enforced): the dense side scans the shared
    * store while a mutator may be committing.
    *
    * Scale: per trigger the query side broadcasts (bounded batch); the
    * sparse side joins 5 rare-term posting lists per query against the
    * fixed stats (rare terms ⇒ short lists); the dense side reads
    * nprobe pruned cell directories; fusion touches ≤ 40 rows per
    * query. Stateless — constant memory at any stream length.
    */
  def hybridServeStream(qs: Dataset[HybridQuery],
      stats: graft.operators.TextOps.Bm25Stats, indexDir: String,
      k: Int = 10)(emit: (DataFrame, Long) => Unit): StreamingQuery = {
    requireServeRetention(qs.sparkSession)
    toForeachBatch(qs.toDF(), OutputMode.Append) { (batch, batchId) =>
      if (!batch.isEmpty)
        emit(hybridServeBatch(batch, stats, indexDir, k), batchId)
    }
  }

  /** One hybrid serve over a bounded query relation (qid, text, qv) —
    * the per-trigger body, also the BATCH REFERENCE the spec compares
    * the stream against.
    */
  def hybridServeBatch(batch: DataFrame,
      stats: graft.operators.TextOps.Bm25Stats, indexDir: String,
      k: Int = 10): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    val queryToks = batch
      .select($"qid".as("query_id"),
        explode(split($"text", "\\s+")).as("tok"))
      .distinct()
    val sparse = graft.operators.TextOps.bm25SparseTop(stats, queryToks)
    val dense = graft.operators.IvfIndex.serveCached(s, indexDir,
        batch.select($"qid".as("vec_id"), $"qv"), probes = 2, k = 20)
      .select($"query_id", $"neighbor".as("doc_id"),
        $"rank".as("dense_rank"))
    graft.operators.TextOps.rrfFuse(sparse, dense, k)
  }

  /** Streaming MaxSim (late-interaction) retrieval from the PERSISTED
    * chunk store ([[graft.operators.MaxSimStore]]) — the serving form
    * of the q178/q182 scoring: each micro-batch of query documents is
    * chunked, hashed, and vectorized in flight (batch-bounded work),
    * its rare-term prefixes route through the store's bucket-pruned
    * posting directories, and the top-k candidate docs emit with the
    * batch id. The store is MUTABLE (manifest lifecycle: addBatch /
    * delete / compact / vacuum), so serves follow the
    * retention contract shared with the other serve streams: each
    * trigger reads the manifest committed at that moment, and
    * `spark.graft.index.retainEpochs >= 2` (enforced below) keeps the
    * prior epoch's generation directories alive for the duration of
    * any mid-flight batch while maintenance commits land concurrently.
    *
    * Scale: per trigger the corpus-side reads are the batch's probed
    * bucket directories (≤ [[graft.operators.MaxSimStore.Buckets]]) and
    * one SHUFFLE_HASH pass of the chunk relation at candidate
    * cardinality; query-side relations broadcast. Stateless — constant
    * memory at any stream length.
    */
  def maxSimServeStream(docsDs: Dataset[DocEvent], dir: String,
      k: Int = 5)(emit: (DataFrame, Long) => Unit): StreamingQuery = {
    requireServeRetention(docsDs.sparkSession)
    toForeachBatch(docsDs.toDF(), OutputMode.Append) { (batch, batchId) =>
      if (!batch.isEmpty)
        emit(graft.operators.MaxSimStore.serve(batch.sparkSession, dir,
          batch.withColumn("toks", split(col("text"), "\\s+"))
            .select(col("doc_id"), col("toks")), k), batchId)
    }
  }

  /** [[knnIndexServeStream]] for the PQ-COMPRESSED store: per trigger
    * the batch's queries run the exact-integer ADC serve
    * ([[graft.operators.IvfIndex.servePq]]) against whatever manifest is
    * committed at that moment — the per-query lookup tables are computed
    * on the broadcast probe side each batch, and the probed posting scan
    * reads 8 logical bytes per candidate. Emits (query_id, rank,
    * neighbor, adc) per batch. Same retention contract as
    * [[knnIndexServeStream]] (retainEpochs >= 2, enforced).
    */
  def knnPqIndexServeStream(qs: Dataset[VecEvent], dir: String,
      probes: Int = 2, k: Int = 5)(
      emit: (DataFrame, Long) => Unit): StreamingQuery = {
    requireServeRetention(qs.sparkSession)
    toForeachBatch(qs.toDF(), OutputMode.Append) { (batch, batchId) =>
      if (!batch.isEmpty)
        emit(graft.operators.IvfIndex.servePqCached(batch.sparkSession, dir,
          batch.select(col("qid").as("vec_id"), col("qv")), probes, k),
          batchId)
    }
  }

  /** Per-key state of [[asofStream]]: time-sorted recent rate updates
    * (public: Spark encoders need a public case class at codegen time).
    */
  case class AsOfRateBuf(ts: Array[Long], vs: Array[Double])

  /** Streaming as-of join: each bid is enriched with the LAST rate update
    * (key = auction mod 10) at or before its event time — the streaming
    * counterpart of the native batch AsOfJoin operator. State per key is
    * a BOUNDED time-sorted buffer of recent rates (not just the latest):
    * micro-batch boundaries may legally deliver a right-side batch ahead
    * of left rows still in flight (two sources never share a trigger
    * atomically), and a single-value state would silently drop every bid
    * older than the last-seen rate under that interleaving. With the
    * buffer, any batch split of the same merged event sequence produces
    * the same output as long as right-side reordering stays within the
    * buffer horizon. Left-side lateness (a bid arriving after a LATER
    * rate batch already processed) still resolves correctly for the same
    * reason; a bid whose matching rate has not arrived at all is dropped
    * (inner as-of), as in the batch operator.
    */
  def asofStream(bids: Dataset[Bid], rates: Dataset[RateUpdate],
      maxRateBuffer: Int = 1024): Dataset[PricedBid] = {
    val spark = bids.sparkSession
    import spark.implicits._
    val tagged = bids
      .map(b => AsOfTagged(b.auction % 10, b.b_date_time.getTime, Some(b), None))
      .union(rates.map(r => AsOfTagged(r.rkey, r.rtime.getTime, None, Some(r))))
    tagged.groupByKey(_.key)
      .flatMapGroupsWithState[AsOfRateBuf, PricedBid](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, events: Iterator[AsOfTagged], state: GroupState[AsOfRateBuf]) =>
          // rate updates (bid.isEmpty) sort first at equal timestamps
          val ordered = events.toSeq.sortBy(e => (e.t, e.bid.isDefined))
          val out = scala.collection.mutable.ArrayBuffer[PricedBid]()
          var ts = state.getOption.map(_.ts.toVector).getOrElse(Vector.empty)
          var vs = state.getOption.map(_.vs.toVector).getOrElse(Vector.empty)
          ordered.foreach { e =>
            e.rate match {
              case Some(r) =>
                // insert in time order; at equal times the later-arriving
                // update lands after (and thus wins the at-or-before pick)
                val i = ts.lastIndexWhere(_ <= e.t) + 1
                ts = (ts.take(i) :+ e.t) ++ ts.drop(i)
                vs = (vs.take(i) :+ r.rate) ++ vs.drop(i)
                if (ts.length > maxRateBuffer) {
                  ts = ts.takeRight(maxRateBuffer)
                  vs = vs.takeRight(maxRateBuffer)
                }
              case None =>
                val b = e.bid.get
                val i = ts.lastIndexWhere(_ <= e.t)
                if (i >= 0)
                  out += PricedBid(b.auction, b.bidder, b.price, b.b_date_time, vs(i))
                // else: no rate at-or-before yet — drop (inner as-of)
            }
          }
          if (ts.nonEmpty) state.update(AsOfRateBuf(ts.toArray, vs.toArray))
          out.iterator
      }
  }

  /** NEXMark q3 in streaming form (local item — q3.sql): category-10
    * auctions stream joined against the (slow-changing, here static)
    * person dimension filtered to OR/ID/CA. Stateless stream-static
    * equi join: each micro-batch joins and emits immediately, no
    * watermark or state store needed.
    */
  def localSellersStream(auctions: DataFrame, persons: DataFrame): DataFrame =
    auctions.filter(col("category") === 10)
      .join(persons.filter(col("state").isin("or", "id", "ca")),
        col("seller") === col("p_id"))
      .select(col("name"), col("city"), col("state"), col("a_id"))

  /** Flock's Global window (window/global.rs:42-148): per-key tumbling
    * on PROCESSING time — stamp p_time at ingest, then keyed tumbling
    * windows over the stamp. The clock is the injectable
    * [[graft.functions.ProcTime]]: wall clock in production; under
    * deterministic mode the supplied arrival model, which makes the spec
    * comparable to its batch recomputation (the reference never tests
    * its global window against a fixed clock — SURVEY §7 hard point 3).
    */
  def globalCounts(bids: DataFrame, window: String, watermark: String,
      arrivalModel: Column): DataFrame = {
    val spark = bids.sparkSession
    val stamped = bids.withColumn("p_time",
      graft.functions.ProcTime.stamp(spark, arrivalModel))
    stamped
      .withWatermark("p_time", watermark)
      .groupBy(org.apache.spark.sql.functions.window(col("p_time"), window).as("w"),
        col("bidder"))
      .agg(count(lit(1)).as("n_bids"))
      .select(col("w.start").as("w_start"), col("bidder"), col("n_bids"))
  }

  /** YSB streaming query (reference benchmarks/src/ysb/ysb.sql): filter
    * one event type, broadcast-join the static campaign dimension, count
    * per campaign per tumbling window. The canonical stream ⋈ static-dim
    * shape: the dim broadcasts once, no stream-side shuffle before the
    * windowed aggregation's own exchange.
    */
  def ysbStream(adEvents: DataFrame, campaigns: DataFrame,
      window: String, watermark: String): DataFrame =
    adEvents.filter(col("event_type") === "view")
      .withWatermark("event_time", watermark)
      .join(broadcast(campaigns), col("ad_id") === col("c_ad_id"))
      .groupBy(org.apache.spark.sql.functions.window(col("event_time"), window).as("w"),
        col("campaign_id"))
      .agg(count(lit(1)).as("n_views"))
      .select(col("w.start").as("w_start"), col("campaign_id"), col("n_views"))

  /** Kafka reader — thin shim over [[graft.sources.KafkaAnalog]], which
    * carries the full source surface (declared-schema decode, consumer
    * contract, embedded transport; reference kafka.rs:48-143).
    */
  def kafkaReader(spark: SparkSession, brokers: String, topic: String) =
    graft.sources.KafkaAnalog.reader(spark, brokers,
      graft.sources.KafkaAnalog.ConsumerContract(topics = Seq(topic),
        startingPosition = "TRIM_HORIZON"))

  /** Kafka sink configuration (reference has no sink analog; the
    * connector package ships with Spark — returned unstarted, no broker
    * in this container).
    */
  def kafkaWriter(df: DataFrame, brokers: String, topic: String, checkpoint: String) =
    df.selectExpr("CAST(value AS STRING) AS value").writeStream.format("kafka")
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint)

  /** Sinks (datasink/mod.rs analogs). */
  def toParquet(df: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("1 second")): StreamingQuery =
    df.writeStream.format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  def toMemory(df: DataFrame, name: String, mode: OutputMode,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    df.writeStream.format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(trigger)
      .start()

  /** Blackhole sink (reference DataSinkType::Blackhole). */
  def toNoop(df: DataFrame): StreamingQuery =
    df.writeStream.format("noop").start()

  /** Key-value-store sink pattern (reference DynamoDB/SQS sinks,
    * datasink/mod.rs:68-101): foreachBatch hands each micro-batch to an
    * idempotent upsert callback keyed by batchId for exactly-once sinks.
    */
  def toForeachBatch(df: DataFrame, mode: OutputMode = OutputMode.Update,
      trigger: Trigger = Trigger.ProcessingTime(0))(
      f: (DataFrame, Long) => Unit): StreamingQuery =
    df.writeStream.outputMode(mode).trigger(trigger).foreachBatch(f).start()
}
