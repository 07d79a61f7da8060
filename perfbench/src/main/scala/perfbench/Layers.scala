package perfbench

import org.apache.spark.sql.DataFrame

import graft.enrich.Enrich
import graft.pipeline.TranscriptPipeline

/** The transform's layers as cumulative plans, each written in full to the
  * `noop` sink (a `count()` would let Catalyst prune the layer under test).
  * The difference between consecutive plans is a layer's marginal cost. */
object Layers {

  val Plans: Seq[(String, DataFrame => DataFrame)] = Seq(
    "scan" -> (d => d),
    "parse" -> (d => TranscriptPipeline.parse(d)),
    "enrich" -> (d => Enrich.enrichInline(TranscriptPipeline.parse(d))),
    "route" -> (d => TranscriptPipeline.transform(d)),
    "fast" -> (d => TranscriptPipeline.sinkFast(d)),
    "aggregate" -> (d => TranscriptPipeline.metrics(d)))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Median seconds per plan over `reps` interleaved rounds (one extra
    * round first, discarded, plans each query once in the session). */
  def time(ctx: Ctx, input: () => DataFrame, reps: Int): Map[String, Double] = {
    val samples = Plans.map(_._1 -> Seq.newBuilder[Double]).toMap
    for (round <- 0 to reps; (name, plan) <- Plans) {
      val (_, s) = ctx.span(s"layer.$name@${ctx.spark.sparkContext.defaultParallelism}") {
        noop(plan(input()))
      }
      if (round > 0) samples(name) += s
    }
    samples.map { case (k, b) => k -> Ctx.median(b.result()) }
  }

  /** Per-layer metrics from the plan medians at 4 and 1 threads. */
  def metrics(t4: Map[String, Double], t1: Map[String, Double],
              rows: Long): Map[String, Double] = {
    def ns(p: String) = t4(p) * 1e9 / rows
    def eff(p: String) = t1(p) / (4 * t4(p))
    Map(
      "sources.scan_ns_per_row" -> ns("scan"),
      "functions.parse_ns_per_row" -> (ns("parse") - ns("scan")),
      "enrich.ns_per_row" -> (ns("enrich") - ns("parse")),
      "route.ns_per_row" -> (ns("route") - ns("enrich")),
      "route.fast_ns_per_row" -> ns("fast"),
      "route.full_over_fast" -> t4("route") / t4("fast"),
      "pipeline.aggregate_ns_per_row" -> (ns("aggregate") - ns("fast")),
      "sources.eff_1_to_4" -> eff("scan"),
      "functions.eff_1_to_4" -> eff("parse"),
      "enrich.eff_1_to_4" -> eff("enrich"),
      "route.eff_1_to_4" -> eff("route"),
      "pipeline.eff_1_to_4" -> eff("aggregate"))
  }
}
