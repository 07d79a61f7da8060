package perfbench

import java.io.File

import org.apache.spark.sql.functions._

import graft.sources.Transcripts

/** Seeded benchmark inputs, materialized once as parquet and cached under
  * the work directory. A cache entry is keyed by generator version, seed
  * and size, so a changed generator or argument never reads a stale entry;
  * the program under test only ever receives the parquet.
  *
  * `Transcripts.synthesize` is seed-free integer math, so the seed enters
  * through the conversation ids: each id is replaced by a seeded 64-bit
  * hash of itself. That keeps the skew shape (the hot conversation stays
  * one conversation) and moves every conversation to a seed-dependent
  * group and sort position.
  */
object Inputs {

  /** Bump when the generated rows change for the same arguments. */
  val Version = "v1"

  /** Entries kept in the cache; older ones are deleted (disk bound). */
  private val KeepEntries = 6

  /** Files per input: two scan tasks per core at `local[4]`. */
  private val Files = 8

  /** `bytes`: the parquet data files' total size */
  final case class Input(path: String, bytes: Long)

  def transcripts(ctx: Ctx, rows: Long, convs: Long, hot: Double): Input =
    cached(ctx, s"turns-n$rows-c$convs-h${math.round(hot * 1000)}") { out =>
      val seed = ctx.args.seed
      Transcripts.synthesize(ctx.spark, rows, convs, hot, partitions = Files)
        .withColumn("conv_id", concat(lit("conv-"),
          lpad(hex(xxhash64(lit(seed), col("conv_id"))), 16, "0")))
        .write.parquet(out)
    }

  /** Documents derived from transcripts: one document per conversation,
    * its turns joined in turn order. `turnsPerDoc` sets the mean length. */
  def documents(ctx: Ctx, turns: Long, turnsPerDoc: Int): Input = {
    val src = transcripts(ctx, turns, turns / turnsPerDoc, 0.0)
    cached(ctx, s"docs-n$turns-t$turnsPerDoc") { out =>
      ctx.spark.read.parquet(src.path)
        .groupBy("conv_id")
        .agg(array_sort(collect_list(struct(col("turn_idx"), col("text")))).as("t"))
        .select(xxhash64(col("conv_id")).as("doc_id"),
          array_join(transform(col("t"), x => x.getField("text")), " ").as("text"))
        .repartition(Files, col("doc_id"))
        .sortWithinPartitions("doc_id")
        .write.parquet(out)
    }
  }

  private def cached(ctx: Ctx, what: String)(generate: String => Unit): Input = {
    val base = new File(ctx.args.work, "inputs")
    val dir = new File(base, s"$Version-$what-s${ctx.args.seed}")
    if (!new File(dir, "_SUCCESS").exists()) {
      base.mkdirs()
      evict(base)
      val tmp = new File(base, s".tmp-${java.util.UUID.randomUUID()}")
      generate(tmp.getPath)
      Ctx.deleteTree(dir)
      require(tmp.renameTo(dir), s"cannot publish input cache entry $dir")
    }
    dir.setLastModified(System.currentTimeMillis())
    Input(dir.getPath, dir.listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum)
  }

  /** Keep the newest entries and drop leftovers of interrupted writes. */
  private def evict(base: File): Unit = {
    val all = Option(base.listFiles()).getOrElse(Array.empty[File])
    all.filter(_.getName.startsWith(".tmp-")).foreach(Ctx.deleteTree)
    all.filterNot(_.getName.startsWith(".tmp-")).sortBy(-_.lastModified())
      .drop(KeepEntries - 1).foreach(Ctx.deleteTree)
  }
}
