package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.checkpoint.Registry
import graft.model.Sinks
import graft.pipeline.{PipelineRunner, TranscriptPipeline}
import graft.textops.{CorpusOps, TextOps}

/** One benchmark workload. `setup` is repeatable: the first call generates
  * (or finds) the input, every call warms up and re-checks the outputs. */
trait Workload {
  def name: String
  /** Input rows one operation processes. */
  def rows: Long
  def setup(ctx: Ctx): Unit
  /** One untimed operation after the set-ups, recording reference outputs. */
  def warmup(ctx: Ctx): Unit
  /** One timed operation on the current session, with its correctness
    * checks; returns the operation's samples (always `run_s`). */
  def op(ctx: Ctx): Map[String, Double]
  /** The traced run (after one set-up and warm-up): per-layer metrics. */
  def traced(ctx: Ctx): Map[String, Double]
}

object Workloads {
  val Names: Seq[String] = Seq("bulk_ingest", "checkpoint_churn", "corpus_kernels")

  /** Workload sizes (input turns; `size` overrides); `smoke` shrinks every
    * input to seconds of work. */
  def apply(name: String, smoke: Boolean, size: Option[Long]): Workload = name match {
    case "bulk_ingest" =>
      val rows = size.getOrElse(if (smoke) 20000L else 100000L)
      new PipelineWorkload(name, rows, convs = rows / 50, hot = 0.2,
        groups = if (smoke) 2 else 4, crash = false)
    case "checkpoint_churn" =>
      val rows = size.getOrElse(if (smoke) 4000L else 16000L)
      new PipelineWorkload(name, rows, convs = rows / 2, hot = 0.0,
        groups = if (smoke) 2 else 8, crash = true)
    case "corpus_kernels" =>
      new CorpusKernels(turns = size.getOrElse(if (smoke) 8000L else 48000L),
        merges = if (smoke) 1000 else 8000)
    case other =>
      throw new IllegalArgumentException(s"unknown workload $other (one of ${Names.mkString(", ")})")
  }
}

/** `PipelineRunner.run` over seeded transcripts. With `crash`, each
  * operation injects a failure after half the groups and then resumes. */
final class PipelineWorkload(val name: String, val rows: Long, convs: Long,
                             hot: Double, groups: Int, crash: Boolean) extends Workload {

  private var input: Inputs.Input = _
  /** per-sink counts (with `filtered`) of `TranscriptPipeline.metrics` */
  private var expected: Map[String, Long] = _
  /** `observedMetrics` counts of a crash-free run */
  private var reference: Map[String, Long] = _

  private def df(ctx: Ctx): DataFrame = ctx.spark.read.parquet(input.path)

  private def counts(m: Map[String, Long]) = m - "output.write_bytes"

  def setup(ctx: Ctx): Unit = {
    input = ctx.span("input")(Inputs.transcripts(ctx, rows, convs, hot))._1
    val e = ctx.span("metrics_plan")(TranscriptPipeline.metrics(df(ctx)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)._1
    if (expected == null) {
      ctx.check(s"$name: input rows", e.values.sum == rows, s"${e.values.sum} != $rows")
      expected = e
    } else ctx.check(s"$name: metrics stable across set-ups", e == expected, s"$e != $expected")
  }

  /** A crash-free run, whose counts every resumed root must match. */
  def warmup(ctx: Ctx): Unit = {
    val root = ctx.freshRoot().getPath
    try {
      val res = PipelineRunner.run(df(ctx), root, groups)
      checkRun(ctx, res, 0 until groups)
      val m = PipelineRunner.observedMetrics(root, ctx.spark)
      checkObserved(ctx, m, root)
      reference = counts(m)
    } finally Ctx.deleteTree(new File(root))
  }

  /** Per-sink counts of `run` and of `observedMetrics` against the plan. */
  private def checkRun(ctx: Ctx, res: Seq[PipelineRunner.GroupResult],
                       groupsRun: Range): Unit = {
    ctx.check(s"$name: groups run", res.map(_.group) == groupsRun, s"${res.map(_.group)}")
    if (groupsRun.size == groups) {
      val summed = res.flatMap(_.counts).groupMapReduce(_._1)(_._2)(_ + _)
      ctx.check(s"$name: run counts = TranscriptPipeline.metrics",
        summed == expected.filter(_._2 > 0), s"$summed != $expected")
    }
  }

  private def checkObserved(ctx: Ctx, m: Map[String, Long], root: String): Unit = {
    val want = Map(
      "events.total" -> rows,
      "events.published" -> (expected.getOrElse(Sinks.Es, 0L) + expected.getOrElse(Sinks.Ls, 0L)),
      "events.filtered" -> expected.getOrElse(TranscriptPipeline.Filtered, 0L),
      "events.dropped" -> expected.getOrElse(Sinks.Dropped, 0L))
    ctx.check(s"$name: observedMetrics = TranscriptPipeline.metrics", counts(m) == want,
      s"${counts(m)} != $want")
    if (reference != null)
      ctx.check(s"$name: counts = crash-free run", counts(m) == reference, s"${counts(m)} != $reference")
    val reg = new Registry(root, ctx.spark)
    ctx.check(s"$name: commit log holds every group once",
      reg.committedGroups() == (0 until groups) &&
        reg.commitLog.state().snapshots.size == groups,
      s"${reg.committedGroups()}")
  }

  def op(ctx: Ctx): Map[String, Double] = opInspect(ctx, crash)((_, _) => Map.empty)

  /** One operation (crash after half the groups and resume, with `crash`);
    * `inspect` sees the finished root and the operation's spans before the
    * root is deleted. */
  private def opInspect(ctx: Ctx, crash: Boolean)(
      inspect: (String, Map[String, Span]) => Map[String, Double]): Map[String, Double] = {
    val root = ctx.freshRoot().getPath
    val spans = Map.newBuilder[String, Span]
    def timed[T](n: String)(f: => T): (T, Double) = {
      val r = ctx.span(n)(f); spans += n -> ctx.spans.last; r
    }
    try {
      val in = df(ctx)
      Heap.reset()
      val (resumeS, runS, runBytes) = if (crash) {
        val half = groups / 2
        val (crashed, crashS) = timed("crash_run") {
          try { PipelineRunner.run(in, root, groups, failAfterGroup = half - 1); false }
          catch { case e: RuntimeException if e.getMessage.startsWith("injected failure") => true }
        }
        ctx.check(s"$name: injected crash", crashed)
        ctx.check(s"$name: half committed before the crash",
          new Registry(root, ctx.spark).committedGroups() == (0 until half))
        val (res, resumeS) = timed("resume_run")(PipelineRunner.run(in, root, groups))
        checkRun(ctx, res, half until groups)
        (resumeS, crashS + resumeS, None)
      } else {
        val (res, runS) = timed("run")(PipelineRunner.run(in, root, groups))
        checkRun(ctx, res, 0 until groups)
        (0.0, runS, Some(res.flatMap(_.writeBytes.values).sum))
      }
      val heap = Heap.peakMb
      val (m, monitorS) = timed("monitor")(PipelineRunner.observedMetrics(root, ctx.spark))
      checkObserved(ctx, m, root)
      runBytes.foreach(b => ctx.check(s"$name: write bytes of run = observedMetrics",
        b > 0 && b == m("output.write_bytes"), s"$b != ${m("output.write_bytes")}"))
      Map("run_s" -> runS, "resume_s" -> resumeS, "monitor_s" -> monitorS,
        "write_bytes_per_row" -> m("output.write_bytes").toDouble / rows,
        "heap_peak_mb" -> heap) ++ inspect(root, spans.result())
    } finally Ctx.deleteTree(new File(root))
  }

  /** Layer plans at 4 threads; untraced and traced operations in turn
    * (the difference of their medians is the tracing overhead) plus one
    * crash and resume; then layer plans and an operation at 1 thread. The
    * attribution comes from one traced operation (the upper median by
    * `run_s`), so its parts add up to that operation's `run_s`. */
  def traced(ctx: Ctx): Map[String, Double] = {
    val t4 = Layers.time(ctx, () => df(ctx), ctx.reps.layers)
    val tracer = new Tracer(new File(input.path).getAbsolutePath)
    val sc = ctx.spark.sparkContext
    def tracedOp() = {
      tracer.clear()
      sc.addSparkListener(tracer)
      try opInspect(ctx, crash) { (root, spans) =>
        org.apache.spark.perfbench.Bus.drain(sc)
        attribute(ctx, tracer, root, spans)
      } finally sc.removeSparkListener(tracer)
    }
    val pairs = (1 to ctx.reps.traced).map(_ => (op(ctx), tracedOp()))
    val untraced = pairs.map(_._1)
    val traced = pairs.map(_._2)
    val resumeS = if (crash) traced.map(_("resume_s"))
      else Seq(opInspect(ctx, crash = true)((_, _) => Map.empty)("resume_s"))
    ctx.session(1)
    val t1 = Layers.time(ctx, () => df(ctx), ctx.reps.layers)
    val at1 = (1 to ctx.reps.oneThread).map(_ => op(ctx)("run_s"))
    def med(ops: Seq[Map[String, Double]], k: String) = Ctx.median(ops.map(_(k)))
    val rep = traced.sortBy(_("run_s")).apply(traced.size / 2)
    val untracedS = med(untraced, "run_s")
    Layers.metrics(t4, t1, rows) ++
      (rep -- Seq("heap_peak_mb", "run_s", "resume_s", "monitor_s", "write_bytes_per_row")) ++ Map(
      "scale_eff_1_to_4" -> Ctx.median(at1) / (4 * untracedS),
      "checkpoint.resume_s" -> Ctx.median(resumeS),
      "pipeline.monitor_s" -> med(untraced, "monitor_s"),
      "pipeline.write_bytes_per_row" -> med(untraced, "write_bytes_per_row"),
      "trace.run_s" -> rep("run_s"),
      "trace.overhead_s" -> (med(traced, "run_s") - untracedS),
      "pipeline.write_share" -> rep("pipeline.write_s") / rep("run_s"),
      "checkpoint.merge_share" -> rep("checkpoint.merge_s") / rep("run_s"))
  }

  /** Attribute a traced operation's Spark SQL executions by output path
    * under its root, and read the checkpoint state directly. */
  private def attribute(ctx: Ctx, tracer: Tracer, root: String,
                        spans: Map[String, Span]): Map[String, Double] = {
    val runSpans = spans.view.filterKeys(_ != "monitor").values.toSeq
    def within(s: Span) = (s.startUs / 1000 - 1, s.endUs / 1000 + 1)
    def kind(e: tracer.Exec): String =
      if (e.plan.contains(s"$root/_staging/")) "write"
      else if (e.plan.contains(s"$root/registry/")) "merge"
      else if (e.plan.contains(s"$root/commits/")) "append"
      else "other"
    val runExecs = runSpans.flatMap { s =>
      val (a, b) = within(s)
      val es = tracer.execsIn(a, b)
      es.foreach(e => ctx.addSpan(s"sql.${kind(e)}", e.startMs * 1000, e.endMs * 1000, s.id))
      es
    }
    def sqlS(es: Seq[tracer.Exec]) = Tracer.unionMs(es.map(e => (e.startMs, e.endMs))) / 1000.0
    val byKind = runExecs.groupBy(kind).map { case (k, es) => k -> sqlS(es) }
    val runS = runSpans.map(s => (s.endUs - s.startUs) / 1e6).sum
    val runTasks = runSpans.flatMap(s => (tracer.tasksIn _).tupled(within(s)))
    val (ma, mb) = within(spans("monitor"))
    val reg = new Registry(root, ctx.spark)
    val stateMs = (0 until groups).map { g =>
      val t0 = System.nanoTime(); reg.isCommitted(g); (System.nanoTime() - t0) / 1e6
    }
    val tables = Sinks.All.map(reg.sinkTable) :+ reg.offsetsTable :+ reg.commitLog
    Map(
      "pipeline.write_s" -> byKind.getOrElse("write", 0.0),
      "checkpoint.merge_s" -> byKind.getOrElse("merge", 0.0),
      "checkpoint.append_s" -> byKind.getOrElse("append", 0.0),
      "trace.other_sql_s" -> byKind.getOrElse("other", 0.0),
      "checkpoint.driver_s" -> (runS - sqlS(runExecs)),
      "sources.read_amp" -> runExecs.map(tracer.inputBytes).sum.toDouble / input.bytes,
      "checkpoint.offsets_rows_rewritten" ->
        runExecs.filter(kind(_) == "merge").map(_.recordsWritten).sum.toDouble,
      "pipeline.executor_cpu_s" -> runTasks.map(_.cpuNs).sum / 1e9,
      "pipeline.gc_s" -> runTasks.map(_.gcMs).sum / 1e3,
      "pipeline.spill_bytes" -> runTasks.map(_.spillBytes).sum.toDouble,
      "pipeline.monitor_bytes_read" -> tracer.tasksIn(ma, mb).map(_.readBytes).sum.toDouble,
      "pipeline.write_files" ->
        Sinks.All.map(s => reg.sinkGroupStatsAll(s).values.map(_._2).sum).sum.toDouble,
      "checkpoint.state_ms" -> Ctx.median(stateMs),
      "checkpoint.versions" -> tables.map(_.liveVersions().size).sum.toDouble)
  }
}

/** Corpus kernels over documents derived from the transcripts: BPE apply
  * with a trained merge table, the Gopher quality gate (repetition kernel)
  * and inline n-gram decontamination, each written in full to `noop`. */
final class CorpusKernels(turns: Long, merges: Int) extends Workload {
  val name = "corpus_kernels"
  private val turnsPerDoc = 8
  private var input: Inputs.Input = _
  var rows: Long = 0L
  private var table: Seq[(String, String)] = _
  private var trainS: Seq[Double] = Seq.empty
  /** output counts recorded at the first set-up */
  private var expected: Map[String, Long] = _

  private def docs(ctx: Ctx): DataFrame = ctx.spark.read.parquet(input.path)

  def setup(ctx: Ctx): Unit = {
    input = ctx.span("input")(Inputs.documents(ctx, turns, turnsPerDoc))._1
    rows = docs(ctx).count()
    // the tokenizer trains on a sample of about 1000 documents, as
    // production pipelines train on a sample
    val sample = docs(ctx).where(pmod(col("doc_id"), lit(math.max(1L, rows / 1000))) === 0)
    val (t, s) = ctx.span("bpe_train")(TextOps.trainBpe(sample, numMerges = merges))
    ctx.check(s"$name: BPE table size", t.size == merges, s"${t.size} != $merges")
    if (table != null) ctx.check(s"$name: BPE training deterministic", t == table)
    table = t
    trainS :+= s
  }

  def warmup(ctx: Ctx): Unit = kernels(ctx) // records the expected counts

  private def observed(df: DataFrame, aggs: (String, org.apache.spark.sql.Column)*): Map[String, Long] = {
    val o = Observation()
    Layers.noop(df.observe(o, aggs.head._2.as(aggs.head._1), aggs.tail.map { case (k, c) => c.as(k) }: _*))
    o.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
  }

  /** The three kernels: seconds per kernel, checked output counts. */
  private def kernels(ctx: Ctx): Map[String, Double] = {
    val d = docs(ctx)
    val bench = d.where(pmod(col("doc_id"), lit(17)) === 3)
    val train = d.where(pmod(col("doc_id"), lit(17)) =!= 3)
    val (bpe, bpeS) = ctx.span("kernel.bpe") {
      observed(d.select(col("doc_id"), TextOps.bpeSegment(col("text"), table).as("seg")),
        "bpe_docs" -> count(lit(1)), "bpe_subwords" -> sum(size(flatten(col("seg")))).cast("long"))
    }
    val (gopher, gopherS) = ctx.span("kernel.gopher") {
      observed(TextOps.gopherFilter(d),
        "gopher_docs" -> count(lit(1)), "gopher_kept" -> sum(col("keep").cast("long")))
    }
    val (decon, deconS) = ctx.span("kernel.decontam") {
      observed(CorpusOps.decontaminateInline(train, bench, n = 8),
        "decontam_docs" -> count(lit(1)),
        "decontam_flagged" -> sum(col("contaminated").cast("long")),
        "decontam_hits" -> sum(col("hits")))
    }
    val got = bpe ++ gopher ++ decon
    if (expected == null) {
      ctx.check(s"$name: every document reaches each kernel",
        got("bpe_docs") == rows && got("gopher_docs") == rows && got("decontam_docs") < rows,
        s"$got")
      expected = got
    } else ctx.check(s"$name: kernel outputs = set-up", got == expected, s"$got != $expected")
    Map("bpe" -> bpeS, "gopher" -> gopherS, "decontam" -> deconS)
  }

  def op(ctx: Ctx): Map[String, Double] = {
    Heap.reset()
    val (k, runS) = ctx.span("kernels")(kernels(ctx))
    Map("run_s" -> runS, "heap_peak_mb" -> Heap.peakMb) ++ k.map { case (n, s) => s"$n.s" -> s }
  }

  /** Per-kernel times at 4 threads, then the kernels at 1 thread. The
    * kernel spans are recorded in untraced runs too, so tracing adds no
    * work here and the overhead is 0 by construction. */
  def traced(ctx: Ctx): Map[String, Double] = {
    val reps = (1 to ctx.reps.traced).map(_ => op(ctx))
    def nsPerDoc(k: String) = Ctx.median(reps.map(_(s"$k.s"))) * 1e9 / rows
    val runS = Ctx.median(reps.map(_("run_s")))
    ctx.session(1)
    val at1 = (1 to ctx.reps.oneThread).map(_ => op(ctx)("run_s"))
    Map(
      "scale_eff_1_to_4" -> Ctx.median(at1) / (4 * runS),
      "textops.bpe_ns_per_row" -> nsPerDoc("bpe"),
      "textops.gopher_ns_per_row" -> nsPerDoc("gopher"),
      "textops.decontam_ns_per_row" -> nsPerDoc("decontam"),
      "textops.bpe_train_s" -> Ctx.median(trainS),
      "trace.run_s" -> runS,
      "trace.overhead_s" -> 0.0)
  }
}
