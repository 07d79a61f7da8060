package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** Benchmark entry point (started by perfbench/run.py, which builds it).
  *
  *   --workload bulk_ingest|checkpoint_churn|corpus_kernels
  *   --seed N --seconds S --trace 0|1 --work DIR [--size ROWS] [--smoke]
  *
  * Untraced (`--trace 0`): set up three times (median = `setup_s`), then
  * repeat the workload's operation at `local[4]` for about half of
  * `--seconds` and at `local[1]` for the rest; end-to-end metrics are
  * medians. Traced (`--trace 1`): one set-up and warm-up, then the
  * workload's traced protocol; per-layer metrics only. `--smoke` runs every workload at a tiny size with each
  * protocol step once (metric names gain the workload as prefix). The result is the last stdout line, prefixed `PERFBENCH_RESULT`;
  * samples and spans go to files under `DIR/results`.
  */
object Main {


  /** The end-to-end metrics of an untraced run, with units. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "run_s" -> "s", "rows_per_s" -> "1/s",
    "heap_peak_mb" -> "MB")

  /** The per-layer metrics of a traced run, with units. A layer a workload
    * does not run reports 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "sources.scan_ns_per_row" -> "ns", "sources.read_amp" -> "ratio",
    "sources.eff_1_to_4" -> "ratio",
    "functions.parse_ns_per_row" -> "ns", "functions.eff_1_to_4" -> "ratio",
    "enrich.ns_per_row" -> "ns", "enrich.eff_1_to_4" -> "ratio",
    "route.ns_per_row" -> "ns", "route.eff_1_to_4" -> "ratio",
    "route.fast_ns_per_row" -> "ns", "route.full_over_fast" -> "ratio",
    "pipeline.aggregate_ns_per_row" -> "ns", "pipeline.eff_1_to_4" -> "ratio",
    "pipeline.write_s" -> "s", "pipeline.write_share" -> "ratio",
    "pipeline.write_files" -> "count", "pipeline.spill_bytes" -> "bytes",
    "pipeline.gc_s" -> "s", "pipeline.executor_cpu_s" -> "s",
    "pipeline.monitor_s" -> "s", "pipeline.monitor_bytes_read" -> "bytes",
    "pipeline.write_bytes_per_row" -> "bytes/row",
    "checkpoint.merge_s" -> "s", "checkpoint.merge_share" -> "ratio",
    "checkpoint.append_s" -> "s", "checkpoint.driver_s" -> "s",
    "checkpoint.resume_s" -> "s", "checkpoint.state_ms" -> "ms",
    "checkpoint.versions" -> "count", "checkpoint.offsets_rows_rewritten" -> "count",
    "textops.bpe_ns_per_row" -> "ns", "textops.gopher_ns_per_row" -> "ns",
    "textops.decontam_ns_per_row" -> "ns", "textops.bpe_train_s" -> "s",
    "scale_eff_1_to_4" -> "ratio",
    "trace.run_s" -> "s", "trace.overhead_s" -> "s", "trace.other_sql_s" -> "s")

  def main(argv: Array[String]): Unit = {
    val code =
      try run(Args.parse(argv))
      catch {
        case t: Throwable =>
          t.printStackTrace()
          2
      }
    sys.exit(code)
  }

  private def run(args: Args): Int = {
    val ctx = new Ctx(args)
    val names = if (args.smoke) Workloads.Names else Seq(args.workload)
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val samples = mutable.LinkedHashMap.empty[String, Seq[Double]]
    val counts = mutable.LinkedHashMap.empty[String, Int]
    try {
      for (name <- names) {
        val w = Workloads(name, args.smoke, args.size)
        val prefix = if (args.smoke) s"$name." else ""
        val (m, s) =
          if (args.trace) traced(ctx, w)
          else untraced(ctx, w, if (args.smoke) 0.0 else args.seconds)
        val declared = if (args.trace) PerLayer else EndToEnd
        for ((k, unit) <- declared) metrics(prefix + k) = (m.getOrElse(k, 0.0), unit)
        s.foreach { case (k, v) => samples(prefix + k) = v }
        // samples behind each metric: set-ups, timed operations, or (traced)
        // the traced operations whose median the layer metrics are
        for ((k, _) <- declared)
          counts(prefix + k) = s.get(if (k == "setup_s") k else "run_s").map(_.size)
            .getOrElse(ctx.reps.traced)
      }
    } finally ctx.stop()
    val result = ujson(metrics, ctx)
    writeResults(ctx, samples, metrics)
    // the short headline last, so a tail capture keeps it
    println(s"PERFBENCH_SAMPLES ${counts.map { case (k, n) => s""""$k":$n""" }.mkString("{", ",", "}")}")
    println(s"PERFBENCH_RESULT $result")
    if (ctx.failed > 0) 1 else 0
  }

  /** Set-up medians, warm-up operations, then the timed loop. */
  private def untraced(ctx: Ctx, w: Workload, seconds: Double)
      : (Map[String, Double], Map[String, Seq[Double]]) = {
    val setups = (1 to ctx.reps.setups).map { _ =>
      ctx.stop()
      ctx.span("setup") { ctx.span("session")(ctx.session(4)); w.setup(ctx) }._2
    }
    val w0 = System.nanoTime()
    w.warmup(ctx)
    while ((System.nanoTime() - w0) / 1e9 < ctx.reps.warmupSeconds) w.op(ctx)
    val t0 = System.nanoTime()
    val ops = mutable.ArrayBuffer.empty[Map[String, Double]]
    while (ops.size < ctx.reps.timedMin || (System.nanoTime() - t0) / 1e9 < seconds)
      ops += w.op(ctx)
    val runS = Ctx.median(ops.map(_("run_s")).toSeq)
    val metrics = Map(
      "setup_s" -> Ctx.median(setups),
      "run_s" -> runS,
      "rows_per_s" -> w.rows / runS,
      "heap_peak_mb" -> Ctx.median(ops.map(_("heap_peak_mb")).toSeq))
    (metrics, Map("setup_s" -> setups) ++ ops.head.keySet.map(k => k -> ops.map(_(k)).toSeq))
  }

  private def traced(ctx: Ctx, w: Workload): (Map[String, Double], Map[String, Seq[Double]]) = {
    ctx.stop()
    ctx.session(4)
    w.setup(ctx)
    w.warmup(ctx)
    (w.traced(ctx), Map.empty)
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  private def ujson(metrics: collection.Map[String, (Double, String)], ctx: Ctx): String = {
    val ms = metrics.map { case (k, (v, unit)) =>
      s""""$k":{"value":${num(v)},"unit":"$unit"}"""
    }.mkString("{", ",", "}")
    s"""{"correct":${ctx.failed == 0},"attempted":${math.max(1L, ctx.attempted)},""" +
      s""""failed":${ctx.failed},"metrics":$ms}"""
  }

  /** Every sample and span of the run, under DIR/results. */
  private def writeResults(ctx: Ctx, samples: collection.Map[String, Seq[Double]],
                           metrics: collection.Map[String, (Double, String)]): Unit = {
    val dir = new File(ctx.args.work, "results")
    dir.mkdirs()
    Option(dir.listFiles()).getOrElse(Array.empty[File]).sortBy(-_.lastModified())
      .drop(98).foreach(_.delete())
    val a = ctx.args
    val stem = s"${if (a.smoke) "smoke" else a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}-${ctx.runId}"
    val out = new PrintWriter(new File(dir, s"$stem.json"))
    try {
      out.println(s"""{"workload":"${if (a.smoke) "smoke" else a.workload}","seed":${a.seed},""" +
        s""""seconds":${num(a.seconds)},"trace":${a.trace},""" +
        s""""attempted":${ctx.attempted},"failed":${ctx.failed},""" +
        s""""ops_failed_ratio":${num(ctx.failed.toDouble / math.max(1L, ctx.attempted))},""" +
        s""""metrics":${metrics.map { case (k, (v, _)) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")},""" +
        s""""samples":${samples.map { case (k, v) => s""""$k":${v.map(num).mkString("[", ",", "]")}""" }.mkString("{", ",", "}")}}""")
    } finally out.close()
    val sp = new PrintWriter(new File(dir, s"$stem.spans.jsonl"))
    try ctx.spans.sortBy(_.startUs).foreach { s =>
      sp.println(s"""{"id":${s.id},"name":"${s.name}","start_us":${s.startUs},""" +
        s""""end_us":${s.endUs},"parent":${s.parent},"run":"${s.run}"}""")
    } finally sp.close()
  }
}
