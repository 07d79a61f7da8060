package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: File, smoke: Boolean, size: Option[Long])

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    var smoke = false
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--smoke" => smoke = true; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length =>
          kv(k.stripPrefix("--")) = argv(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    Args(kv.getOrElse("workload", "all"), kv.getOrElse("seed", "1").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      new File(kv.getOrElse("work", ".bench_build/perfbench")).getAbsoluteFile, smoke,
      kv.get("size").map(_.toLong))
  }
}

/** Repetitions of each protocol step; the smoke run does every step once. */
final case class Reps(setups: Int, warmupSeconds: Double, timedMin: Int, layers: Int,
                      traced: Int, oneThread: Int)

object Reps {
  /** Warm-up operations run until `warmupSeconds` have passed: the JIT is
    * still compiling through the first few seconds of operations, which is
    * one cold operation on `bulk_ingest` and three on `corpus_kernels`. */
  val Full: Reps = Reps(setups = 3, warmupSeconds = 8.0, timedMin = 4, layers = 1,
    traced = 2, oneThread = 1)
  val Smoke: Reps = Reps(1, 0.0, 1, 1, 1, 1)
}

/** One span: a timed interval at a layer boundary. Times are epoch
  * microseconds; `parent` is the id of the enclosing span (0 = none). */
final case class Span(id: Int, name: String, startUs: Long, endUs: Long,
                      parent: Int, run: String)

/** State shared by the workloads of one run: the Spark session (rebuilt
  * when the thread count changes), correctness accounting, spans, and the
  * scratch roots every timed operation writes into. */
final class Ctx(val args: Args) {
  val runId: String = s"s${args.seed}-${System.currentTimeMillis()}"
  val reps: Reps = if (args.smoke) Reps.Smoke else Reps.Full
  private var current: SparkSession = _
  private var currentCpus = 0

  def spark: SparkSession = current

  /** The session for `cpus` worker threads, with the product's own
    * settings (graft.Main). Starting one stops the previous one. */
  def session(cpus: Int): SparkSession = {
    if (current != null && currentCpus == cpus) return current
    stop()
    val tmp = new File(args.work, "tmp")
    tmp.mkdirs()
    current = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.getPath)
      .config("spark.sql.warehouse.dir", new File(tmp, "warehouse").getPath)
      .getOrCreate()
    current.sparkContext.setLogLevel("ERROR")
    currentCpus = cpus
    current
  }

  def stop(): Unit = if (current != null) {
    current.stop()
    current = null
    currentCpus = 0
  }

  // ------------------------------------------------------------ correctness

  var attempted = 0L
  var failed = 0L

  /** Count one correctness check; a failure is logged and counted. */
  def check(what: String, ok: Boolean, detail: => String = ""): Boolean = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED: $what $detail")
    }
    ok
  }

  // ------------------------------------------------------------------ spans

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private val open = mutable.Stack[Int]()
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()

  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  /** Time `f`, recording a span under the innermost open span. */
  def span[T](name: String)(f: => T): (T, Double) = {
    val parent = open.headOption.getOrElse(0)
    val sid = nextId()
    open.push(sid)
    val t0 = System.nanoTime()
    val start = nowUs
    try {
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      spans += Span(sid, name, start, nowUs, parent, runId)
      if (parent == 0) System.err.println(f"[perfbench] $name%-14s $secs%8.3f s")
      (r, secs)
    } finally open.pop()
  }

  private var lastId = 0
  private def nextId(): Int = { lastId += 1; lastId }

  /** Record an interval measured elsewhere (a Spark SQL execution). */
  def addSpan(name: String, startUs: Long, endUs: Long, parent: Int): Unit =
    spans += Span(nextId(), name, startUs, endUs, parent, runId)

  // ------------------------------------------------------------------ roots

  // roots left behind by an interrupted run
  Option(new File(args.work, "roots").listFiles()).foreach(_.foreach(Ctx.deleteTree))

  /** A fresh output root under the work directory; callers delete it. */
  def freshRoot(): File = {
    val d = new File(args.work, s"roots/${java.util.UUID.randomUUID()}")
    d.getParentFile.mkdirs()
    d
  }
}

object Ctx {
  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Peak heap use across the heap memory pools. */
object Heap {
  private def pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** Collect first, so every operation starts from the same live heap. */
  def reset(): Unit = {
    System.gc()
    pools.foreach(_.resetPeakUsage())
  }

  def peakMb: Double = pools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}
