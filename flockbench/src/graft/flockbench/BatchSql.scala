package graft.flockbench

import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** The 27 frozen headline queries on the read-only sf0.1 fixtures. An op
  * calls the catalog function and collects its result, as a user would;
  * the result's digest is then checked against the DuckDB oracle's,
  * outside the timed region. The fixtures are fixed, so the seed permutes
  * the query order of every sweep.
  */
object BatchSql extends Workload {

  /** Warm sweeps run untimed before the timed ones (JIT settle): none in
    * an untraced run, whose budget holds one warm sweep; one in a traced
    * run, so its traced and untraced sweeps both follow a settled one.
    */
  def settleSweeps(traced: Boolean): Int = if (traced) 1 else 0
  /** A warm sweep takes about this long on the reference host; the
    * timed sweep count is the run's seconds over it, so the amount of
    * timed work is fixed for a given `--seconds`.
    */
  val NominalSweepS = 12.5

  /** Timed sweeps; a traced run needs two, one traced and one not. */
  def sweeps(seconds: Double, traced: Boolean): Int =
    math.max(if (traced) 2 else 1, math.round(seconds / NominalSweepS).toInt)

  /** The seeded query order of each sweep: cold, settle, then timed. */
  def orders(seed: Long, n: Int): Seq[Seq[String]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(n)(rng.shuffle(Layers.headline))
  }

  def loadDigests(benchDir: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(s"$benchDir/oracle_digests.tsv", "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split("\t")).map(a => a(0) -> a(1)).toMap
    finally src.close()
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val sched = Schedule(settleSweeps(ctx.traced), sweeps(ctx.seconds, ctx.traced))
    // set-up: the oracle digests and the seeded sweep orders, timed
    // three times so set-up reports a median
    val gens = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val o = (orders(ctx.seed, sched.total), loadDigests(ctx.benchDir))
      ((System.nanoTime() - t0) / 1e9, o)
    }
    val (plan, digests) = gens.last._2
    ctx.e2e("setup_s", ctx.sessionReadyS + Stats.median(gens.map(_._1)), "s")

    def op(name: String): Double = {
      var rows: Array[Row] = null
      var schema: StructType = null
      val ms = t.span(s"op/$name", isOp = true) {
        val t0 = System.nanoTime()
        val df = t.span("build") {
          graft.SparkEntry.queries(name)(spark, ctx.sfDir)
        }
        rows = t.span("collect") { df.collect() }
        schema = df.schema
        (System.nanoTime() - t0) / 1e6
      }
      val got = Digest.of(rows, schema)
      val want = digests.getOrElse(name, "<no oracle digest>")
      ctx.check(got == want, s"$name digest $got != oracle $want")
      ms
    }
    def sweep(order: Seq[String]): Map[String, Double] = {
      val r = t.span("sweep") { order.map(n => n -> ctx.attempt(n)(op(n))).toMap }
      ctx.log(f"sweep ${r.values.sum}%.0f ms")
      r
    }

    t.setActive(true)
    val cg0 = Layers.codegenMs()
    val cold = sweep(plan.head)
    val coldCodegen = Layers.codegenMs() - cg0
    t.setActive(false)
    // settle sweeps run untraced; a traced run traces every other timed one
    val units = cold +: plan.tail.zipWithIndex.map { case (o, i) =>
      t.setActive(i >= sched.settle && (i - sched.settle) % 2 == 0)
      sweep(o)
    }
    t.setActive(false)
    val timed = sched.timedUnits(units).zipWithIndex.map { case (u, i) => (u, i % 2 == 0) }

    val warm = Layers.headline.map(q => q -> Stats.median(timed.map(_._1(q)))).toMap
    val sweepMs = timed.map(_._1.values.sum)
    ctx.e2e("cold_s", cold.values.sum / 1000.0, "s")
    ctx.e2e("warm_s", warm.values.sum / 1000.0, "s")
    ctx.e2e("geomean_ms", Stats.geomean(warm.values.toSeq), "ms")
    ctx.e2e("latency_p50_ms", Stats.median(sweepMs), "ms")

    if (ctx.traced) {
      t.attachListenerRecords()
      val sweepsSpans = t.named("sweep")
      val tracedUnits = sweepsSpans.drop(1)
      Layers.spark(ctx, tracedUnits, _.name.startsWith("op/"))
      ctx.layer("spark.codegen_ms", coldCodegen, "ms")
      ctx.layer("operators.build_ms", if (tracedUnits.isEmpty) 0.0 else
        tracedUnits.map(u => t.descendants(u).filter(_.name == "build")
          .map(_.ms).sum).sum / tracedUnits.length, "ms")
      Layers.headline.foreach { q =>
        ctx.layer(s"query.$q.cold_ms", cold(q), "ms")
        ctx.layer(s"query.$q.warm_ms", warm(q), "ms")
      }
      val (on, off) = timed.zip(sweepMs).partition(_._1._2)
      Layers.overhead(ctx, on.map(_._2), off.map(_._2))
    }
  }
}
