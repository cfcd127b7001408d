package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Per-run state shared by the harness and one workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
    val smoke: Boolean, val dir: String) {
  val rng = new scala.util.Random(seed)
  private[perfbench] var pausedNs = 0L
  private[perfbench] val setupS = mutable.ArrayBuffer.empty[Double]
  private[perfbench] val obs =
    mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  /** Run `body` inside an operation without counting it in the latency
    * or in the measured window (cache release, fresh-table resets).
    */
  def untimed[A](body: => A): A = {
    val t = System.nanoTime
    try body finally pausedNs += System.nanoTime - t
  }

  /** Time one set-up; `setup_s` is the median of all set-ups of a run. */
  def setup[A](body: => A): A = {
    val t = System.nanoTime
    try body finally setupS += (System.nanoTime - t) / 1e9
  }

  /** Record a per-layer observation; by default only while tracing. */
  def record(name: String, v: Double, always: Boolean = false): Unit =
    if (tracer.on || always) obs.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def path(name: String): String = s"$dir/$name"
}

/** A closed-loop workload: one client issues operation `i` only after
  * operation `i - 1` has completed and been checked.
  */
trait Workload {
  /** Build the inputs; wrap each repetition in [[Ctx.setup]]. */
  def setup(): Unit
  /** Untimed, after set-up: run each kind of operation once so JIT
    * compilation and lazy initialisation finish before the window opens.
    */
  def warmup(): Unit = ()
  /** The timed operation. Its result goes to [[check]]. */
  def op(i: Int): Any
  /** Whether to issue operation `i`, given whether the window is spent. */
  def more(i: Int, spent: Boolean): Boolean = i == 0 || !spent
  /** Operations of one kind are comparable (for the tracing overhead). */
  def kind(i: Int): String = ""
  /** Untimed: is `out` exactly what operation `i` must return? */
  def check(i: Int, out: Any): Boolean
  /** Traced runs only: side calls that time a layer the operation only
    * reaches from inside another call, on the same inputs, outside the
    * operation's span.
    */
  def side(i: Int): Unit = ()
  /** End-of-run checks of state the operations built up. */
  def finish(): Boolean = true
}

object Main {
  val Workloads: Map[String, Ctx => Workload] = Map(
    "pinned_lookup" -> (c => new PinnedLookup(c)),
    "ingest" -> (c => new Ingest(c)),
    "pipeline" -> (c => new Pipeline(c)))

  /** End-to-end metrics (every run with tracing off prints all of them). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "heap_retained_mb" -> "MB")

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg\nusage: perfbench --workload " +
      s"<${Workloads.keys.toSeq.sorted.mkString("|")}> --seed <n> " +
      "--seconds <s> --trace <0|1> --dir <scratch dir> [--smoke <ops>]")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => usage(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def arg(k: String) = kv.getOrElse(k, usage(s"missing --$k"))
    val workload = arg("workload")
    val make = Workloads.getOrElse(workload, usage(s"unknown workload $workload"))
    val seed = arg("seed").toLongOption.getOrElse(usage("--seed is not a number"))
    val seconds = arg("seconds").toDoubleOption.getOrElse(usage("--seconds is not a number"))
    val trace = arg("trace") match {
      case "0" => false
      case "1" => true
      case _ => usage("--trace must be 0 or 1")
    }
    val smokeOps = kv.get("smoke").map(_.toInt)
    val dir = arg("dir")

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$dir/spark-local")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      // Spark's status store keeps every job and query for its UI; kept
      // small so heap_retained_mb sees the engine's caches, not that
      .config("spark.ui.retainedJobs", 10L)
      .config("spark.ui.retainedStages", 10L)
      .config("spark.ui.retainedTasks", 100L)
      .config("spark.sql.ui.retainedExecutions", 10L)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, workload, make, seed, seconds, trace, smokeOps, dir)
    finally spark.stop()
    sys.exit(0)
  }

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Used heap after full GCs: the least of five readings 200 ms apart.
    * Spark's cleaner frees broadcasts and shuffle blocks only after a GC
    * has collected their handles, so up to two GCs in a row can read the
    * same before such a release shows.
    */
  private def heapUsedMb(): Double =
    (1 to 5).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  private def run(spark: SparkSession, workload: String,
      make: Ctx => Workload, seed: Long, seconds: Double, trace: Boolean,
      smokeOps: Option[Int], dir: String): Unit = {
    val tracer = new Tracer(spark.sparkContext)
    val ctx = new Ctx(spark, tracer, seed, smokeOps.isDefined, dir)
    val wl = make(ctx)
    val start = System.nanoTime
    def phase(p: String): Unit =
      System.err.println(f"perfbench: $p done at ${(System.nanoTime - start) / 1e9}%.1f s")
    // Spark's own first job and first parquet write pay one-off JVM costs
    // that belong to neither the engine's set-up nor its operations
    spark.range(0, 1000, 1, 4).write.parquet(s"$dir/spark-warmup")
    spark.read.parquet(s"$dir/spark-warmup").count()
    phase("spark warm-up")
    wl.setup(); phase("set-up")
    wl.warmup(); phase("warm-up")

    // the window is the operations' own time: checks and side calls of
    // the closed loop's client do not count against it
    val lat = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[(Int, Double)]
    val untraced = mutable.ArrayBuffer.empty[(Int, Double)]
    var failed = 0
    val gc0 = gcMs()
    var i = 0
    while (wl.more(i, smokeOps.isEmpty && lat.sum >= seconds * 1e3) &&
        smokeOps.forall(i < _)) {
      // even operations are traced, so a run of one operation is traced
      tracer.on = trace && i % 2 == 0
      tracer.opId = i
      val paused0 = ctx.pausedNs
      val s = System.nanoTime
      val out = try Right(tracer.span("op")(wl.op(i)))
        catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime - s - (ctx.pausedNs - paused0)) / 1e6
      val ok = out match {
        case Right(o) =>
          try wl.check(i, o) catch {
            case NonFatal(e) =>
              System.err.println(s"perfbench: check of op $i threw: $e"); false
          }
        case Left(e) =>
          System.err.println(s"perfbench: op $i failed: $e"); false
      }
      if (!ok) failed += 1
      lat += ms
      if (tracer.on) {
        traced += i -> ms
        try wl.side(i) catch {
          case NonFatal(e) => System.err.println(s"perfbench: side call $i: $e")
        }
      } else untraced += i -> ms
      tracer.on = false
      i += 1
    }
    val windowS = lat.sum / 1e3
    phase("operations")
    val gcDelta = gcMs() - gc0
    val finished = try wl.finish() catch {
      case NonFatal(e) => System.err.println(s"perfbench: final check: $e"); false
    }
    tracer.drain()
    val heapMb = heapUsedMb()
    phase("final checks")

    val n = lat.size
    val e2e = Map(
      "setup_s" -> median(ctx.setupS),
      "op_p50_ms" -> median(lat),
      "ops_per_s" -> n / windowS,
      "heap_retained_mb" -> heapMb)
    val metrics: Seq[(String, Double, String)] =
      if (!trace) EndToEnd.map { case (k, u) => (k, e2e(k), u) }
      else {
        val layer = Layers.compute(ctx, tracer, traced.toSeq, untraced.toSeq,
          wl.kind, gcDelta.toDouble)
        Layers.PerLayer.map { case (k, u, _) => (k, layer.getOrElse(k, 0.0), u) }
      }

    // op_tail_ms: the highest percentile with at least ten samples beyond it
    val sorted = lat.sorted
    val tail = if (n >= 20) {
      val q = math.floor(100.0 * (n - 10) / n)
      val idx = math.ceil(q / 100.0 * n).toInt - 1
      f"op_tail_ms=${sorted(idx.max(0))}%.3f (p$q%.0f, n=$n)"
    } else s"op_tail_ms=omitted (n=$n < 20)"
    println(f"perfbench $workload seed=$seed ops=$n failed=$failed " +
      f"error_rate=${failed.toDouble / n}%.4f " +
      f"op_p50_ms=${e2e("op_p50_ms")}%.3f $tail ops_per_s=${e2e("ops_per_s")}%.3f " +
      f"setup_s=${ctx.setupS.map(x => f"$x%.3f").mkString("[", ",", "]")}")
    if (trace) Layers.writeSpans(tracer, s"$dir/spans-$workload-$seed.jsonl")

    def num(d: Double) = if (d.isNaN || d.isInfinite) "0" else d.toString
    val body = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    val correct = failed == 0 && finished
    println(s"""{"correct": $correct, "attempted": $n, "failed": $failed, """ +
      s""""metrics": {$body}}""")
  }
}
