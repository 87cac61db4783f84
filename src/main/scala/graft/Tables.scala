package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the driver-provided parquet testdata
  * (see /root/repo/TESTDATA.md). Schemas are fixed and known; we read
  * with Spark's parquet scan so filters/column pruning push down
  * (reference keeps fixed declared schemas too — see SURVEY §1.3,
  * /root/reference/flock/src/datasource/tpch/mod.rs:24-122).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Schema metadata cache, keyed on the parquet path. A bare
    * `spark.read.parquet(path)` runs a one-task schema-INFERENCE job per
    * call (ParquetUtils.mergeSchemasInParallel) — ~40 ms each, and a
    * 6-table join paid six of them on every invocation (measured: ~240 ms
    * of tpch_q05's 1.06 s, guide §1/§6). Caching the inferred StructType
    * and passing it back via `.schema(...)` skips the job; this is
    * catalog METADATA (what any engine's catalog holds), not data or
    * results — the scan still reads parquet from scratch every run.
    *
    * RESTRICTION (round-14 advice): the cache is keyed on path with no
    * invalidation, so rewriting a path WITH A DIFFERENT SCHEMA inside
    * one JVM would serve the stale StructType. No flow does this
    * (MakeBigSf reads src, writes dst); a tool that regenerates data in
    * place must
    * call [[clearSchemaCache]] first.
    */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[String,
      org.apache.spark.sql.types.StructType]()

  private[graft] def clearSchemaCache(): Unit = schemaCache.clear()

  /** Load one table. Parquet scan → Catalyst handles pushdown/pruning.
    * `events.ts` is TIMESTAMP(NANOS), which Spark's parquet reader rejects;
    * read it as nanos-since-epoch long and convert to a microsecond
    * timestamp (`div 1000` in integer space — a double division would lose
    * precision above 2^53).
    */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Driver-generated parquet stores naive micros (isAdjustedToUTC=false),
    // which Spark 4 would infer as TIMESTAMP_NTZ; several time functions
    // (unix_millis/unix_micros) and the engine's UTC-instant semantics want
    // TIMESTAMP. Disabling inference makes the SCAN yield TIMESTAMP
    // directly (sessions run UTC, so values are unchanged) and — unlike a
    // cast above the scan — keeps ts predicates pushable to parquet.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // Engine default: Spark rewrites `rank <= k` filters into
    // WindowGroupLimit (bounded per-task heaps BELOW the exchange) only
    // for k <= spark.sql.optimizer.windowGroupLimitThreshold (1000).
    // Budget-capped curation ops (q135: row_number <= 3000 pre-prune)
    // rely on that rewrite with k in the low thousands — a k-row heap
    // per task is exactly the bounded structure the plan wants, so every
    // graft session raises the ceiling.
    spark.conf.set("spark.sql.optimizer.windowGroupLimitThreshold", "100000")
    // Engine invariant: ANSI arithmetic. The integer lift/ratio devices
    // (q137's `1000·cnt·total div (lc·rc)`, q112's idf_k cross-product)
    // carry documented corpus-size operand caps (~10⁹ tokens); under
    // ANSI an int64 overflow past those caps ERRORS — same behavior as
    // DuckDB — where legacy mode would silently wrap into a
    // plausible-looking wrong value. Spark 4 defaults to true; pinning
    // it here makes the cap enforcement independent of any session
    // builder's config (LiftOverflowSpec proves the failure mode).
    spark.conf.set("spark.sql.ansi.enabled", "true")
    val path = s"$dir/$name.parquet"
    val schema = schemaCache.computeIfAbsent(path,
      p => spark.read.parquet(p).schema)
    val df = spark.read.schema(schema).parquet(path)
    // only the driver's NANOS files surface ts as a long; re-materialized
    // copies (MakeBigSf) already store a proper timestamp — leave those
    val fixed =
      if (name == "events" &&
          df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      else df
    normalizeNtz(fixed)
  }

  /** Driver-generated parquet stores naive timestamps (isAdjustedToUTC =
    * false), which Spark 4 infers as TIMESTAMP_NTZ. The engine (and its
    * DuckDB oracles) treat all times as UTC instants, and several time
    * functions (unix_millis/unix_micros, window ops) want TIMESTAMP — so
    * cast NTZ → session-tz TIMESTAMP at the scan. Sessions run UTC, so
    * values are unchanged; the cast sits above the scan and does not
    * block pushdown/pruning of other columns.
    */
  private def normalizeNtz(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}
    val ntz = df.schema.fields.filter(_.dataType == TimestampNTZType)
    if (ntz.isEmpty) df
    else df.withColumns(
      ntz.map(f => f.name -> col(f.name).cast(TimestampType)).toMap)
  }

  /** Register every table as a temp view (for spark.sql paths). */
  def views(spark: SparkSession, dir: String): Unit =
    all.foreach(n => apply(spark, dir, n).createOrReplaceTempView(n))
}
