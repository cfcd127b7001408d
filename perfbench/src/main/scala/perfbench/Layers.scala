package perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run. A layer is one engine module;
  * the metric prefix names it (see METRICS.md for which end-to-end metric
  * each one should move, and on which workload).
  */
object Layers {
  val Kernels: Seq[String] = Seq("StridedNgrams", "WordNgrams", "MinHashSig",
    "OverlapCount", "BloomMightContain", "NearestCentroid", "VectorCosine",
    "TopTokenCount")

  val Operators: Seq[String] = Seq("t7_chunk_windows", "d3_fast_minhash",
    "d4_fast_jaccard", "t8b_contamination_bloom", "s4_ann_ivf",
    "s1_ann_bruteforce", "t10_repetition", "q15_salted_join",
    "d6_fast_components")

  /** Layers whose self time is reported as a share of operation time. */
  val SelfLayers: Seq[String] = Seq("log", "scan", "commit", "ops", "other")

  /** (name, unit, better) of every per-layer metric, in output order. */
  val PerLayer: Seq[(String, String, String)] = Seq(
    ("log.open_ms", "ms", "lower"),
    ("log.open_cached_ms", "ms", "lower"),
    ("log.json_commits", "count", "lower"),
    ("log.checkpoint_actions", "count", "lower"),
    ("log.spark_jobs", "count", "lower"),
    ("skip.plan_ms", "ms", "lower"),
    ("skip.files_total", "count", "lower"),
    ("skip.files_kept", "count", "lower"),
    ("skip.precision", "ratio", "higher"),
    ("scan.build_ms", "ms", "lower"),
    ("scan.exec_ms", "ms", "lower"),
    ("scan.bytes_read", "bytes", "lower"),
    ("scan.rows_read", "count", "lower"),
    ("scan.tasks", "count", "lower"),
    ("dv.decode_ms", "ms", "lower"),
    ("dv.subtract_ms", "ms", "lower"),
    ("dv.rows_deleted", "count", "lower"),
    ("commit.append_ms", "ms", "lower"),
    ("commit.delete_ms", "ms", "lower"),
    ("commit.merge_ms", "ms", "lower"),
    ("commit.checkpoint_ms", "ms", "lower"),
    ("commit.spark_jobs", "count", "lower"),
    ("commit.table_files", "count", "lower"),
    ("commit.log_bytes", "bytes", "lower"),
    ("commit.write_amp", "ratio", "lower"),
    ("commit.append_ms_per_file", "ms", "lower")) ++
    Kernels.map(k => (s"kernel.${k}_ms", "ms", "lower")) ++
    Operators.map(o => (s"ops.${o}_ms", "ms", "lower")) ++ Seq(
    ("ops.shuffle_bytes", "bytes", "lower"),
    ("ops.spill_bytes", "bytes", "lower"),
    ("ops.spark_jobs", "count", "lower"),
    ("jvm.gc_ms", "ms", "lower"),
    ("trace.overhead_pct", "%", "lower")) ++
    SelfLayers.map(l => (s"self.${l}_pct", "%", "lower"))

  private def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median over traced operations of the per-operation sum of `f` over
    * the spans `p` selects; operations without such a span are left out.
    */
  private def perOp(spans: Seq[Span], p: Span => Boolean)(f: Span => Double)
      : Double =
    median(spans.filter(p).groupBy(_.opId).values.map(_.map(f).sum))

  def compute(ctx: Ctx, tracer: Tracer, traced: Seq[(Int, Double)],
      untraced: Seq[(Int, Double)], kind: Int => String,
      gcMs: Double): Map[String, Double] = {
    val spans = tracer.all
    val out = mutable.LinkedHashMap.empty[String, Double]
    // durations of every named span
    spans.map(_.name).distinct.foreach { n =>
      out(s"${n}_ms") = perOp(spans, _.name == n)(_.durMs)
    }
    val logOpen = (s: Span) => s.name == "log.open"
    out("log.spark_jobs") = perOp(spans, logOpen)(_.jobs.get.toDouble)
    out("log.checkpoint_actions") = perOp(spans, logOpen)(_.rowsRead.get.toDouble)
    val exec = (s: Span) => s.name == "scan.exec"
    out("scan.bytes_read") = perOp(spans, exec)(_.bytesRead.get.toDouble)
    out("scan.rows_read") = perOp(spans, exec)(_.rowsRead.get.toDouble)
    out("scan.tasks") = perOp(spans, exec)(_.tasks.get.toDouble)
    out("commit.spark_jobs") = perOp(spans, _.layer == "commit")(_.jobs.get.toDouble)
    val ops = (s: Span) => s.layer == "ops"
    out("ops.shuffle_bytes") = perOp(spans, ops)(_.shuffleBytes.get.toDouble)
    out("ops.spill_bytes") = perOp(spans, ops)(_.spillBytes.get.toDouble)
    out("ops.spark_jobs") = perOp(spans, ops)(_.jobs.get.toDouble)
    // observations the workloads recorded themselves
    ctx.obs.foreach { case (k, vs) => out(k) = median(vs) }
    out("jvm.gc_ms") = gcMs
    // traced against untraced median latency, within each kind of operation
    val t = traced.groupBy(x => kind(x._1))
    val u = untraced.groupBy(x => kind(x._1))
    val ratios = t.keySet.intersect(u.keySet).toSeq.map(k =>
      median(t(k).map(_._2)) / median(u(k).map(_._2)) - 1)
    out("trace.overhead_pct") =
      if (ratios.isEmpty) 0.0 else ratios.sum / ratios.size * 100

    // self time per layer, as a share of the traced operations' time
    val self = tracer.selfMs
    val opIds = traced.map(_._1).toSet
    val byId = spans.map(s => s.id -> s).toMap
    def root(s: Span): Span = if (s.parent < 0) s else root(byId(s.parent))
    val opSpans = spans.filter(s => opIds.contains(s.opId) && root(s).name == "op")
    val total = opSpans.filter(_.name == "op").map(_.durMs).sum
    if (total > 0) SelfLayers.foreach { l =>
      val ms = opSpans.filter(s => if (l == "other") s.name == "op" else s.layer == l)
        .map(s => self(s.id)).sum
      out(s"self.${l}_pct") = ms / total * 100
    }
    out.toMap
  }

  /** Spans are kept in memory during the run and written out at its end. */
  def writeSpans(tracer: Tracer, file: String): Unit = {
    val w = new java.io.PrintWriter(file, "UTF-8")
    try tracer.all.foreach { s =>
      w.println(s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, """ +
        s""""op": ${s.opId}, "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
        s""""jobs": ${s.jobs.get}, "tasks": ${s.tasks.get}, """ +
        s""""bytes_read": ${s.bytesRead.get}, "rows_read": ${s.rowsRead.get}, """ +
        s""""shuffle_bytes": ${s.shuffleBytes.get}, "spill_bytes": ${s.spillBytes.get}}""")
    } finally w.close()
  }
}
