package graft.flockbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Everything a workload needs: the session, its seed and time budget,
  * the tracer, and the tallies that become the result line.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Tracer, val work: String, val sfDir: String, val benchDir: String,
    val sessionReadyS: Double) {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer[String]()
  val endToEnd = mutable.LinkedHashMap[String, (Double, String)]()
  val perLayer = mutable.LinkedHashMap[String, (Double, String)]()

  def traced: Boolean = tracer.enabled

  /** Record one op outcome; a wrong or failed op counts as failed. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      if (problems.length < 20) problems += what
    }
  }

  /** Run `body` as one attempted op; an exception fails it and rethrows. */
  def attempt[T](what: String)(body: => T): T =
    try body
    catch { case e: Throwable =>
      attempted += 1; failed += 1
      problems += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
      throw e
    }

  def e2e(name: String, v: Double, unit: String): Unit = endToEnd(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = perLayer(name) = (v, unit)

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"[flockbench] ${Main.sinceJvmStartS()}%7.1fs $msg")
}

/** A workload: set up, one cold pass, settle, then timed units for the
  * run's seconds, then the output checks. It fills the end-to-end
  * metrics always and the per-layer ones when the run is traced.
  */
trait Workload {
  def run(ctx: Ctx): Unit
}

object Main {

  val Workloads: Map[String, Workload] = Map(
    "batch_sql" -> BatchSql,
    "stream_store" -> StreamStore)

  /** The read-only sf0.1 fixtures (TESTDATA.md). */
  val DefaultSfDir = "/root/testdata/sf0.1"

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, traceDir: String, sfDir: String,
      benchDir: String)

  /** Seconds from JVM start to now: the set-up clock's origin. */
  def sinceJvmStartS(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("trace-dir"),
      m.getOrElse("sf-dir", DefaultSfDir), need("bench-dir"))
  }

  /** The session every workload runs on: local[nproc] with one shuffle
    * partition per core. Set here, not inherited from any build tool.
    */
  def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("flockbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      // one micro-batch per round: a no-data batch after each round
      // would run concurrently with the next round's timing
      .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      // the headline suite compiles more generated classes than the
      // default 100-entry cache holds, so warm sweeps would recompile
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val wl = Workloads.getOrElse(a.workload,
      throw new IllegalArgumentException(s"unknown workload ${a.workload}"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val spark = session(cpus, a.work)
    spark.sparkContext.setLogLevel("ERROR")
    val host = new Host
    val tracer = new Tracer(spark, a.trace)
    val ctx = new Ctx(spark, a.seed, a.seconds, tracer, a.work, a.sfDir,
      a.benchDir, sinceJvmStartS())
    val ok = try { wl.run(ctx); true }
    catch { case e: Throwable =>
      System.err.println(s"[flockbench] ${a.workload} aborted: $e")
      e.printStackTrace()
      false
    }
    val gap = {
      val r = tracer.host.runMs
      if (r > 0) 1000.0 * (r - tracer.host.cpuMs) / r else 0.0
    }
    val hostRec = Seq("steal_pm" -> host.stealPm(), "load1" -> host.load1(),
      "task_gap_pm" -> gap, "task_gc_ms" -> tracer.host.gcMs.toDouble,
      "jvm_gc_ms" -> host.jvmGcMs(), "rss_peak_mb" -> host.rssPeakMb())
    if (a.trace) {
      ctx.layer("host.steal_pm", hostRec(0)._2, "permille")
      ctx.layer("host.load1", hostRec(1)._2, "load")
      ctx.layer("host.task_gap_pm", gap, "permille")
      ctx.layer("jvm.gc_ms", hostRec(4)._2, "ms")
      ctx.layer("jvm.rss_peak_mb", hostRec(5)._2, "MB")
      Layers.complete(ctx)
      tracer.writeSpans(s"${a.traceDir}/${a.workload}-seed${a.seed}.spans.jsonl")
    }
    try spark.stop() catch { case _: Throwable => () }
    ctx.problems.foreach(p => System.err.println(s"[flockbench] FAILED $p"))
    if (!ok) sys.exit(2)
    val correct = ctx.failed == 0 && ctx.attempted > 0
    val shown = if (a.trace) ctx.perLayer else ctx.endToEnd
    def metric(kv: (String, (Double, String))) =
      kv._1 -> Json.obj(Seq("value" -> Json.num(kv._2._1),
        "unit" -> Json.str(kv._2._2)))
    println(Json.obj(Seq("host" -> Json.obj(hostRec.map { case (k, v) =>
      k -> Json.num(v) }))))
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> Json.obj(shown.toSeq.map(metric)))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}
