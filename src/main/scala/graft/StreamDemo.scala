package graft

import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import graft.streaming.StreamOps

/** End-to-end streaming smoke: rate-source NEXMark bids → tumbling window
  * counts → memory sink; prints the observed windows. Usage:
  *   runMain graft.StreamDemo [eventsPerSecond] [seconds]
  */
object StreamDemo {
  /** How long past `secs` the demo waits for a query's first data batch. */
  private val DeadlineSecs = 60L

  /** Every query fires at wall-clock multiples of this period, so each
    * has an idle window between its micro-batches.
    */
  private val PeriodMs = 1000L

  /** A query is stopped only while idle and at least this long before
    * its next trigger.
    */
  private val MarginMs = 400L

  def main(args: Array[String]): Unit = {
    val eps = args.headOption.map(_.toInt).getOrElse(1000)
    val secs = args.lift(1).map(_.toInt).getOrElse(8)
    // one run-local checkpoint root, deleted only after the session: a
    // query's temporary checkpoint is deleted on its stop while its
    // cancelled micro-batch may still be writing state files into it
    val ckptRoot = java.nio.file.Files.createTempDirectory("graft_demo_ckpt")
    val spark = Session.local(Session.cpus,
      "spark.sql.streaming.checkpointLocation" -> ckptRoot.toString)
    try {
      val every = Trigger.ProcessingTime(PeriodMs)
      val bids = StreamOps.bidStream(spark, eps)
      val q = StreamOps.toMemory(
        StreamOps.tumblingCounts(bids.toDF(), "2 seconds", "0 seconds"),
        "demo", OutputMode.Complete, every)
      // KV-sink path: foreachBatch upserts per-auction counts (DynamoDB-style)
      val store = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      import org.apache.spark.sql.functions._
      val kv = StreamOps.toForeachBatch(
        StreamOps.bidStream(spark, eps).toDF()
          .groupBy(col("auction")).agg(count(lit(1)).as("n")),
        trigger = every) { (batch, _) =>
        batch.collect().foreach(r => store.put(r.getInt(0), r.getLong(1)))
      }
      // stream-stream join path: auctions ⋈ bids with range residual
      val ssj = StreamOps.toMemory(
        StreamOps.winningBidJoin(
          StreamOps.auctionStream(spark, eps).toDF(),
          StreamOps.bidStream(spark, eps).toDF(),
          "0 seconds", "1 hour")
          .select(col("a_id"), col("price")),
        "ssj", OutputMode.Append, every)
      // per-window finalize path: streaming q5 hot items
      val nWinners = new java.util.concurrent.atomic.AtomicLong()
      val hot = StreamOps.hotItemsStream(
        StreamOps.bidStream(spark, eps).toDF(), "0 seconds", every) { winners =>
        nWinners.addAndGet(winners.count())
      }
      val queries = Seq("demo" -> q, "kv" -> kv, "ssj" -> ssj, "hot" -> hot)
      // run `secs`, then on until every query has finished a data batch
      // (batch 0 of a rate source is often empty), bounded by a fixed
      // deadline so a wedged query cannot hang the smoke
      val start = System.nanoTime()
      def elapsed = (System.nanoTime() - start) / 1000000000L
      def fed = queries.forall { case (_, sq) =>
        Option(sq.lastProgress).exists(_.batchId >= 1) }
      while (elapsed < secs || (!fed && elapsed < secs + DeadlineSecs))
        Thread.sleep(100)
      // a stop interrupts a running micro-batch, state-store commit and
      // all: stop each query only between its batches
      def between(sq: StreamingQuery) = !sq.status.isTriggerActive &&
        PeriodMs - System.currentTimeMillis() % PeriodMs >= MarginMs
      queries.foreach { case (_, sq) =>
        while (!between(sq) && elapsed < secs + DeadlineSecs) Thread.sleep(5)
        sq.stop()
      }
      // how far each query got: its last completed micro-batch (-1: none)
      val batches = queries.map { case (n, sq) =>
        s"$n:${Option(sq.lastProgress).fold(-1L)(_.batchId)}" }.mkString(",")
      val out = spark.table("demo")
      val rows = out.count()
      // a query stopped before its first batch leaves an empty table
      val total = out.agg(coalesce(sum("num"), lit(0L))).head().getLong(0)
      val joinRows = spark.table("ssj").count()
      println(s"STREAM_DEMO windows=$rows total_bids=$total kv_keys=${store.size} join_rows=$joinRows hot_winners=${nWinners.get()} last_batch=$batches")
    } finally {
      spark.stop()
      org.apache.commons.io.FileUtils.deleteDirectory(ckptRoot.toFile)
    }
  }
}
