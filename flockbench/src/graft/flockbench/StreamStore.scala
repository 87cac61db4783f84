package graft.flockbench

/** Streaming state and the persisted stores under ingest, in one JVM: a
  * round is one stream round (a micro-batch into each of the four
  * StreamOps pipelines) followed by one store round (a serve op, then a
  * write op). Timed rounds run whole compaction cycles of three.
  */
object StreamStore extends Workload {

  /** A timed cycle (three rounds) takes about this long on the reference
    * host; the cycle count is the run's seconds over it, so the timed
    * work is fixed for a given `--seconds`.
    */
  val NominalCycleS = 24.0

  def cycles(seconds: Double): Int = math.max(1, math.round(seconds / NominalCycleS).toInt)

  /** Extra stream rounds of a traced run, traced and untraced in ABBA
    * order, that measure the tracing overhead on like ops.
    */
  val Probe: Seq[Boolean] = Seq(true, false, false, true)

  def run(ctx: Ctx): Unit = {
    val t = ctx.tracer
    val sched = Schedule(0, StoreRw.CompactEvery * cycles(ctx.seconds))
    val (nTimed, total) = (sched.timed, sched.total)
    // set-up: both workloads' seeded inputs, generated three times so
    // set-up reports a median
    val gens = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val in = (StreamNexmark.inputs(ctx.seed, total + Probe.length),
        StoreRw.inputs(ctx.seed, total))
      ((System.nanoTime() - t0) / 1e9, in)
    }
    val (streamIn, storeIn) = gens.last._2
    ctx.e2e("setup_s", ctx.sessionReadyS + Stats.median(gens.map(_._1)), "s")

    val stream = new StreamRig(ctx, streamIn)
    val store = new StoreRig(ctx, storeIn)
    final case class Round(wall: Double, stream: Double, serve: Double, write: Double)
    // a round's time is the sum of its three ops; the last round's serve
    // op is followed by the untimed cached-versus-uncached check
    def round(r: Int): Round = t.span("round") {
      val st = stream.round(r)
      val sv = store.serveOp(r, check = r == nTimed)
      val wr = store.writeOp(r + 1)
      val rd = Round(st + sv + wr, st, sv, wr)
      ctx.log(f"round $r stream $st%.0f serve $sv%.0f write $wr%.0f ms")
      rd
    }

    try {
      t.setActive(true)
      val c0 = System.nanoTime()
      val cg0 = Layers.codegenMs()
      stream.start()
      ctx.log("streams started")
      store.build()
      ctx.log("stores built")
      val cold = round(0)
      val coldS = (System.nanoTime() - c0) / 1e9
      val coldCodegen = Layers.codegenMs() - cg0
      val units = cold +: (1 until total).map(round)
      t.setActive(false)
      val rounds = sched.timedUnits(units)
      // per-kind means over whole compaction cycles: a median of three
      // would sit on the boundary between the plain and compacting modes
      def mean(f: Round => Double) = rounds.map(f).sum / rounds.length
      val (streamMs, serveMs, writeMs) = (mean(_.stream), mean(_.serve), mean(_.write))
      ctx.e2e("cold_s", coldS, "s")
      ctx.e2e("warm_s", rounds.map(_.wall).sum / 1000.0, "s")
      ctx.e2e("geomean_ms", Stats.geomean(Seq(streamMs, serveMs, writeMs)), "ms")
      ctx.e2e("latency_p50_ms", Stats.median(rounds.map(_.wall)), "ms")

      if (ctx.traced) {
        t.attachListenerRecords()
        val units = t.named("round").drop(1)
        Layers.spark(ctx, units, sp => Set("stream_round", "serve", "write")(sp.name))
        ctx.layer("spark.codegen_ms", coldCodegen, "ms")
        stream.traceMetrics(units, 1, nTimed)
        store.traceMetrics(units, total, rounds.map(_.write))
        ctx.layer("streaming.round_p50_ms", Stats.median(rounds.map(_.stream)), "ms")
        ctx.layer("store.serve_p50_ms", Stats.median(rounds.map(_.serve)), "ms")
      }
      val pushed = if (ctx.traced) {
        val probe = Probe.zipWithIndex.map { case (on, i) =>
          t.setActive(on)
          (stream.round(total + i), on)
        }
        t.setActive(false)
        val (on, off) = probe.partition(_._2)
        Layers.overhead(ctx, on.map(_._1), off.map(_._1))
        total + Probe.length
      } else total
      ctx.log("verify")
      stream.verify(pushed)
      store.verify(total)
      ctx.log("done")
    } finally stream.stop()
  }
}
