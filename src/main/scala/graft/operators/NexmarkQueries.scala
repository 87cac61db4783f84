package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.sources.{Nexmark, Ysb}

/** The reference's executed workload — NEXMark q0–q13 + YSB — re-expressed
  * as Spark DataFrame transforms over the deterministic generator.
  * Query texts: /root/reference/benchmarks/src/nexmark/query/q{0..13}.sql,
  * /root/reference/benchmarks/src/ysb/ysb.sql. Window types per query:
  * /root/reference/benchmarks/src/nexmark/main.rs:116-123 (q5 hopping 10/5,
  * q7/q8 tumbling 10s, q11 session 10s, q12 proc-time 10s, rest
  * element-wise).
  *
  * The generator is deterministic, so the queries ARE oracle-checkable:
  * Verify dumps the generated input relations to parquet under
  * [[DumpDir]], and each oracle SQL recomputes the query in DuckDB from
  * that dump (an independent formulation — e.g. session windows become a
  * gaps-and-islands window-function computation). q12 (processing time)
  * stays rows-only: its output depends on the wall clock.
  */
object NexmarkQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Events per catalog run: 50 s at 1000 events/s. */
  val N: Long = 50000
  val Eps: Long = 1000

  /** Fixed location Verify dumps generator inputs to for the DuckDB
    * oracle (the driver registers only the sf-dir tables; generated
    * relations must travel by parquet path).
    */
  val DumpDir = "/tmp/graft_oracle_inputs"

  def dumpOracleInputs(s: SparkSession): Unit = {
    def w(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$DumpDir/$name.parquet")
    w(bids(s), "bids")
    w(auctions(s), "auctions")
    w(persons(s), "persons")
    w(Nexmark.sideInput(s), "side_input")
    w(cached(s, "ysb_events")(Ysb.adEvents(s, N, Eps).toDF()), "ysb_events")
    w(Ysb.campaigns(s).toDF(), "ysb_campaigns")
  }

  // Output normalization for the driver compare: timestamps to strings,
  // deterministic total order. b_date_time is unique across bids (one
  // event per millisecond), so it totally orders bid-level outputs.
  private val TsFmt = "yyyy-MM-dd HH:mm:ss.SSS"
  private val WinFmt = "yyyy-MM-dd HH:mm:ss"

  def defs: Map[String, Q] = {
    import org.apache.spark.sql.Column
    def fmt(c: Column) = date_format(c, TsFmt)
    def wfmt(c: Column) = date_format(c, WinFmt)
    Map(
      "nx_q00_passthrough" -> ((s, _) => q0(s)
        .withColumn("b_date_time", fmt(col("b_date_time")))
        .orderBy("b_date_time")),
      "nx_q01_currency" -> ((s, _) => q1(s)
        .withColumn("b_date_time", fmt(col("b_date_time")))
        .orderBy("b_date_time")),
      "nx_q02_filter" -> ((s, _) => q2(s).orderBy("auction", "price")),
      "nx_q03_local_sellers" -> ((s, _) => q3(s).orderBy("a_id")),
      "nx_q04_avg_final_price" -> ((s, _) => q4(s)
        .select(col("category"), round(col("avg_final"), 4).as("avg_final"))
        .orderBy("category")),
      "nx_q05_hot_items" -> ((s, _) => q5(s)
        .withColumn("w_start", wfmt(col("w_start")))
        .orderBy("w_start", "auction")),
      "nx_q06_avg_seller_price" -> ((s, _) => q6(s)
        .select(col("seller"), round(col("avg_price"), 4).as("avg_price"))
        .orderBy("seller")),
      "nx_q07_highest_bid" -> ((s, _) => q7(s)
        .withColumn("w_start", wfmt(col("w_start")))
        .withColumn("b_date_time", fmt(col("b_date_time")))
        .orderBy("w_start", "b_date_time")),
      "nx_q08_new_sellers" -> ((s, _) => q8(s)
        .withColumn("w_start", wfmt(col("w_start")))
        .orderBy("w_start", "p_id")),
      "nx_q09_winning_bids" -> ((s, _) => q9(s)
        .withColumn("b_date_time", fmt(col("b_date_time")))
        .orderBy("auction", "b_date_time")),
      "nx_q10_bid_log" -> ((s, _) => q10(s)
        .withColumn("b_date_time", fmt(col("b_date_time")))
        .withColumn("p_hour", col("p_hour").cast("long"))
        .orderBy("b_date_time")),
      "nx_q11_bid_sessions" -> ((s, _) => q11(s)
        .withColumn("start_time", fmt(col("start_time")))
        .withColumn("end_time", fmt(col("end_time")))
        .orderBy("bidder", "start_time")),
      "nx_q12_proctime_bids" -> ((s, _) => q12(s)
        .withColumn("start_time", fmt(col("start_time")))
        .withColumn("end_time", fmt(col("end_time")))
        .orderBy("bidder", "start_time")),
      "nx_q13_side_input_join" -> ((s, _) => q13(s)
        .withColumn("b_date_time", fmt(col("b_date_time")))
        .orderBy("b_date_time")),
      "nx_ysb_campaigns" -> ((s, _) => ysb(s)
        .withColumn("w_start", wfmt(col("w_start")))
        .orderBy("w_start", "campaign_id"))
    )
  }

  /** The generated relations are deterministic functions of (N, Eps), and
    * every nx_ query re-derives them from `spark.range` — so cache the
    * materialized Dataset per session (MEMORY_ONLY, ~50k narrow rows):
    * one generation pass serves all 15 queries in a Verify or benchmark run
    * instead of one per query. The cluster analog is a generated source
    * staged once and read many times.
    */
  private val genCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), DataFrame]()
  private def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame =
    genCache.computeIfAbsent((s, key), _ => build.persist())

  private def bids(s: SparkSession): DataFrame =
    cached(s, "bids")(Nexmark.bids(s, N, Eps).toDF())
  private def auctions(s: SparkSession): DataFrame =
    cached(s, "auctions")(Nexmark.auctions(s, N, Eps).toDF())
  private def persons(s: SparkSession): DataFrame =
    cached(s, "persons")(Nexmark.persons(s, N, Eps).toDF())

  /** q0: passthrough. */
  def q0(s: SparkSession): DataFrame = bids(s)

  /** q1: currency conversion 0.908 × price. */
  def q1(s: SparkSession): DataFrame = {
    import s.implicits._
    bids(s).select($"auction", $"bidder",
      (lit(0.908) * $"price").as("price"), $"b_date_time")
  }

  /** q2: selection auction % 123 = 0. */
  def q2(s: SparkSession): DataFrame = {
    import s.implicits._
    bids(s).filter($"auction" % 123 === 0).select($"auction", $"price")
  }

  /** q3: local item — OR/ID/CA sellers of category-10 auctions. */
  def q3(s: SparkSession): DataFrame = {
    import s.implicits._
    auctions(s).filter($"category" === 10)
      .join(persons(s).filter($"state".isin("or", "id", "ca")),
        $"seller" === $"p_id")
      .select($"name", $"city", $"state", $"a_id")
  }

  /** q4: average closing price per category. */
  def q4(s: SparkSession): DataFrame = {
    import s.implicits._
    val winning = auctions(s)
      .join(bids(s), $"a_id" === $"auction" &&
        $"b_date_time".between($"a_date_time", $"expires"))
      .groupBy($"a_id", $"category")
      .agg(max($"price").as("final"))
    winning.groupBy($"category").agg(avg($"final").as("avg_final"))
  }

  /** q5: hot items per hopping window (10 s / 5 s): auctions with the
    * max bid count in each window.
    */
  def q5(s: SparkSession): DataFrame = {
    import s.implicits._
    val counts = bids(s)
      .groupBy(window($"b_date_time", "10 seconds", "5 seconds").as("w"), $"auction")
      .agg(count(lit(1)).as("num"))
    val maxn = counts.groupBy($"w").agg(max($"num").as("maxn"))
    counts.join(maxn, Seq("w")).filter($"num" === $"maxn")
      .select($"w.start".as("w_start"), $"auction", $"num")
  }

  /** q6: average price of the last 10 winning bids per seller.
    * Window orders carry full tiebreaks (bidder / a_id) so row_number is
    * deterministic across engines.
    */
  def q6(s: SparkSession): DataFrame = {
    import s.implicits._
    val wPrice = Window.partitionBy($"a_id")
      .orderBy($"price".desc, $"b_date_time", $"bidder")
    val wTime = Window.partitionBy($"seller").orderBy($"b_date_time".desc, $"a_id")
    val winning = auctions(s)
      .join(bids(s), $"a_id" === $"auction" &&
        $"b_date_time".between($"a_date_time", $"expires"))
      .withColumn("price_rank", row_number().over(wPrice))
      .filter($"price_rank" === 1)
    winning.withColumn("time_rank", row_number().over(wTime))
      .filter($"time_rank" <= 10)
      .groupBy($"seller").agg(avg($"price").as("avg_price"))
  }

  /** q7: highest bid per tumbling 10 s window. */
  def q7(s: SparkSession): DataFrame = {
    import s.implicits._
    val b = bids(s).withColumn("w", window($"b_date_time", "10 seconds"))
    val mx = b.groupBy($"w").agg(max($"price").as("maxprice"))
    b.join(mx, Seq("w")).filter($"price" === $"maxprice")
      .select($"w.start".as("w_start"), $"auction", $"price", $"bidder", $"b_date_time")
  }

  /** q8: monitor new users — persons who created auctions in the same
    * tumbling 10 s window they registered in.
    */
  def q8(s: SparkSession): DataFrame = {
    import s.implicits._
    val p = persons(s)
      .withColumn("w", window($"p_date_time", "10 seconds"))
      .select($"p_id", $"name", $"w")
    val a = auctions(s)
      .withColumn("wa", window($"a_date_time", "10 seconds"))
      .select($"seller", $"wa")
    p.join(a, p("p_id") === a("seller") && p("w") === a("wa"))
      .select($"p_id", $"name", $"w.start".as("w_start"))
      .distinct()
  }

  /** q9: winning bid per auction (max-price join, earliest on tie). */
  def q9(s: SparkSession): DataFrame = {
    import s.implicits._
    val joined = auctions(s)
      .join(bids(s), $"a_id" === $"auction" &&
        $"b_date_time".between($"a_date_time", $"expires"))
    val finals = joined.groupBy($"a_id".as("id")).agg(max($"price").as("final"))
    bids(s).join(finals, $"auction" === $"id" && $"price" === $"final")
      .select($"auction", $"bidder", $"price", $"b_date_time")
  }

  /** q10: bid log with date partitions (reference writes partitioned
    * files; here: the partition-derivation projection).
    */
  def q10(s: SparkSession): DataFrame = {
    import s.implicits._
    bids(s).select($"auction", $"bidder", $"price", $"b_date_time",
      date_format($"b_date_time", "yyyy-MM-dd").as("p_date"),
      hour($"b_date_time").as("p_hour"))
  }

  /** q11: bid sessions per bidder (10 s gap session windows). */
  def q11(s: SparkSession): DataFrame = {
    import s.implicits._
    bids(s)
      .groupBy(session_window($"b_date_time", "10 seconds").as("w"), $"bidder")
      .agg(count(lit(1)).as("bid_count"),
        min($"b_date_time").as("start_time"),
        max($"b_date_time").as("end_time"))
      .select($"bidder", $"bid_count", $"start_time", $"end_time")
  }

  /** q12: processing-time 10 s windows per bidder (reference
    * benchmarks/src/nexmark/query/q12.sql stamps `now()`). The clock is
    * injectable ([[graft.functions.ProcTime]]): wall clock by default, a
    * paced-replay model (b_date_time + 2 s pipeline latency) in
    * deterministic mode so the DuckDB oracle can recompute the windows.
    */
  def q12(s: SparkSession): DataFrame = {
    import s.implicits._
    bids(s).withColumn("p_time", graft.functions.ProcTime.stamp(
        s, $"b_date_time" + expr("INTERVAL 2 SECONDS")))
      .groupBy(window($"p_time", "10 seconds"), $"bidder")
      .agg(count(lit(1)).as("bid_count"),
        min($"p_time").as("start_time"),
        max($"p_time").as("end_time"))
      .select($"bidder", $"bid_count", $"start_time", $"end_time")
  }

  /** q13: bounded side-input join on auction mod 10000. */
  def q13(s: SparkSession): DataFrame = {
    import s.implicits._
    bids(s).join(broadcast(Nexmark.sideInput(s)),
        pmod($"auction", lit(10000)) === $"key")
      .select($"auction", $"bidder", $"price", $"b_date_time", $"value")
  }

  /** YSB: campaign view counts per tumbling 10 s window. */
  def ysb(s: SparkSession): DataFrame = {
    import s.implicits._
    val ev = cached(s, "ysb_events")(Ysb.adEvents(s, N, Eps).toDF())
      .filter($"event_type" === "view")
    ev.join(broadcast(Ysb.campaigns(s).toDF()), $"ad_id" === $"c_ad_id")
      .groupBy(window($"event_time", "10 seconds").as("w"), $"campaign_id")
      .agg(count(lit(1)).as("n_views"))
      .select($"w.start".as("w_start"), $"campaign_id", $"n_views")
  }

  // ---------------------------------------------------------------------
  // DuckDB oracles over the [[DumpDir]] parquet dump. Window assignment is
  // recomputed from epoch milliseconds (BaseTime is 5 s-aligned, matching
  // Spark's epoch-aligned windows); sessions are a gaps-and-islands
  // computation — independent of Spark's session_window operator.
  // ---------------------------------------------------------------------

  private def srcSql(name: String): String =
    s"read_parquet('$DumpDir/$name.parquet/*.parquet')"

  private val FmtMs = "%Y-%m-%d %H:%M:%S.%g"
  private val FmtS = "%Y-%m-%d %H:%M:%S"

  def oracles: Map[String, String] = {
    val bid = s"bid AS (SELECT * FROM ${srcSql("bids")})"
    val auction = s"auction AS (SELECT * FROM ${srcSql("auctions")})"
    val person = s"person AS (SELECT * FROM ${srcSql("persons")})"
    Map(
      "nx_q00_passthrough" ->
        s"""WITH $bid
           SELECT auction, bidder, price,
             strftime(b_date_time, '$FmtMs') AS b_date_time
           FROM bid ORDER BY 4""",
      "nx_q01_currency" ->
        s"""WITH $bid
           SELECT auction, bidder, 0.908e0 * price AS price,
             strftime(b_date_time, '$FmtMs') AS b_date_time
           FROM bid ORDER BY 4""",
      "nx_q02_filter" ->
        s"""WITH $bid
           SELECT auction, price FROM bid
           WHERE auction % 123 = 0 ORDER BY 1, 2""",
      "nx_q03_local_sellers" ->
        s"""WITH $auction, $person
           SELECT name, city, state, a_id
           FROM auction JOIN person ON seller = p_id
           WHERE category = 10 AND state IN ('or', 'id', 'ca')
           ORDER BY a_id""",
      "nx_q04_avg_final_price" ->
        s"""WITH $auction, $bid,
           win AS (
             SELECT a_id, category, max(price) AS final
             FROM auction JOIN bid ON a_id = auction
               AND b_date_time BETWEEN a_date_time AND expires
             GROUP BY 1, 2)
           SELECT category, round(avg(final), 4) AS avg_final
           FROM win GROUP BY 1 ORDER BY 1""",
      "nx_q05_hot_items" ->
        s"""WITH $bid,
           wins AS (
             SELECT make_timestamp(
               (CAST(floor(epoch_ms(b_date_time) / 5000) AS BIGINT) - k) * 5000000)
               AS w_start, auction
             FROM bid, unnest([0, 1]) AS t(k)),
           counts AS (
             SELECT w_start, auction, CAST(count(*) AS BIGINT) AS num
             FROM wins GROUP BY 1, 2),
           maxn AS (SELECT w_start, max(num) AS maxn FROM counts GROUP BY 1)
           SELECT strftime(c.w_start, '$FmtS') AS w_start, auction, num
           FROM counts c JOIN maxn m ON c.w_start = m.w_start AND num = maxn
           ORDER BY 1, 2""",
      "nx_q06_avg_seller_price" ->
        s"""WITH $auction, $bid,
           j AS (
             SELECT a_id, seller, price, b_date_time, bidder
             FROM auction JOIN bid ON a_id = auction
               AND b_date_time BETWEEN a_date_time AND expires),
           win AS (
             SELECT *, row_number() OVER (
               PARTITION BY a_id ORDER BY price DESC, b_date_time, bidder) AS pr
             FROM j),
           r AS (
             SELECT seller, price, row_number() OVER (
               PARTITION BY seller ORDER BY b_date_time DESC, a_id) AS tr
             FROM win WHERE pr = 1)
           SELECT seller, round(avg(price), 4) AS avg_price
           FROM r WHERE tr <= 10 GROUP BY 1 ORDER BY 1""",
      "nx_q07_highest_bid" ->
        s"""WITH $bid,
           b AS (
             SELECT *, make_timestamp(
               CAST(floor(epoch_ms(b_date_time) / 10000) AS BIGINT) * 10000000)
               AS w_start
             FROM bid),
           mx AS (SELECT w_start, max(price) AS maxprice FROM b GROUP BY 1)
           SELECT strftime(b.w_start, '$FmtS') AS w_start, auction, price, bidder,
             strftime(b_date_time, '$FmtMs') AS b_date_time
           FROM b JOIN mx ON b.w_start = mx.w_start AND price = maxprice
           ORDER BY 1, 5""",
      "nx_q08_new_sellers" ->
        s"""WITH $auction, $person,
           p AS (
             SELECT p_id, name, make_timestamp(
               CAST(floor(epoch_ms(p_date_time) / 10000) AS BIGINT) * 10000000)
               AS w FROM person),
           a AS (
             SELECT seller, make_timestamp(
               CAST(floor(epoch_ms(a_date_time) / 10000) AS BIGINT) * 10000000)
               AS wa FROM auction)
           SELECT DISTINCT p_id, name, strftime(w, '$FmtS') AS w_start
           FROM p JOIN a ON p_id = seller AND w = wa
           ORDER BY 3, 1""",
      "nx_q09_winning_bids" ->
        s"""WITH $auction, $bid,
           finals AS (
             SELECT a_id AS id, max(price) AS final
             FROM auction JOIN bid ON a_id = auction
               AND b_date_time BETWEEN a_date_time AND expires
             GROUP BY 1)
           SELECT auction, bidder, price,
             strftime(b_date_time, '$FmtMs') AS b_date_time
           FROM bid JOIN finals ON auction = id AND price = final
           ORDER BY 1, 4""",
      "nx_q10_bid_log" ->
        s"""WITH $bid
           SELECT auction, bidder, price,
             strftime(b_date_time, '$FmtMs') AS b_date_time,
             strftime(b_date_time, '%Y-%m-%d') AS p_date,
             CAST(hour(b_date_time) AS BIGINT) AS p_hour
           FROM bid ORDER BY 4""",
      "nx_q11_bid_sessions" ->
        s"""WITH $bid,
           flagged AS (
             SELECT bidder, b_date_time,
               CASE WHEN lag(b_date_time) OVER w IS NULL
                 OR epoch_ms(b_date_time)
                   - epoch_ms(lag(b_date_time) OVER w) >= 10000
                 THEN 1 ELSE 0 END AS new_s
             FROM bid
             WINDOW w AS (PARTITION BY bidder ORDER BY b_date_time)),
           sess AS (
             SELECT bidder, b_date_time,
               sum(new_s) OVER (PARTITION BY bidder ORDER BY b_date_time
                 ROWS UNBOUNDED PRECEDING) AS sid
             FROM flagged)
           SELECT bidder, CAST(count(*) AS BIGINT) AS bid_count,
             strftime(min(b_date_time), '$FmtMs') AS start_time,
             strftime(max(b_date_time), '$FmtMs') AS end_time
           FROM sess GROUP BY bidder, sid ORDER BY bidder, start_time""",
      "nx_q12_proctime_bids" ->
        s"""WITH $bid,
           w AS (SELECT bidder, b_date_time + INTERVAL 2 SECOND AS p_time
                 FROM bid)
           SELECT bidder, CAST(count(*) AS BIGINT) AS bid_count,
             strftime(min(p_time), '$FmtMs') AS start_time,
             strftime(max(p_time), '$FmtMs') AS end_time
           FROM w
           GROUP BY bidder, CAST(floor(epoch_ms(p_time)/10000) AS BIGINT)
           ORDER BY bidder, start_time""",
      "nx_q13_side_input_join" ->
        s"""WITH $bid, side AS (SELECT * FROM ${srcSql("side_input")})
           SELECT auction, bidder, price,
             strftime(b_date_time, '$FmtMs') AS b_date_time, value
           FROM bid JOIN side ON auction % 10000 = key
           ORDER BY 4""",
      "nx_ysb_campaigns" ->
        s"""WITH ev AS (SELECT * FROM ${srcSql("ysb_events")}),
           camp AS (SELECT * FROM ${srcSql("ysb_campaigns")})
           SELECT strftime(make_timestamp(
               CAST(floor(epoch_ms(event_time) / 10000) AS BIGINT) * 10000000),
               '$FmtS') AS w_start,
             campaign_id, CAST(count(*) AS BIGINT) AS n_views
           FROM ev JOIN camp ON ad_id = c_ad_id
           WHERE event_type = 'view'
           GROUP BY 1, 2 ORDER BY 1, 2"""
    )
  }
}
