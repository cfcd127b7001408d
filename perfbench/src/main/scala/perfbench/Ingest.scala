package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.DeltaLake
import graft.delta.{Cond, DeletionVectors, DeltaLog, DeltaWriter, ScanSettings}

/** Writes beside reads: one writer makes a fixed commit schedule on a
  * fresh orders-shaped table, cycling through an append of an order
  * slice, a deletion-vector delete of a key range and a merge that upserts
  * a scattered key set. With the default checkpoint interval the schedule
  * crosses two checkpoints (commits 10 and 20), and every commit writes a
  * `.crc`. A run makes exactly the schedule, so every run sees the same
  * history lengths (about 15 s of commits on 4 cores, past the 7 s window;
  * twenty commits make the median latency steady across runs).
  */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.spark

  private val baseRows = if (ctx.smoke) 2000L else 20000L
  private val appendRows = if (ctx.smoke) 500L else 10000L
  private val deleteSpan = if (ctx.smoke) 100L else 1500L
  private val mergeKeys = if (ctx.smoke) 50 else 1000
  private val commits = if (ctx.smoke) 4 else 20

  import Ingest._

  // the schedule, picked once by the seed; version c is commit c
  private val schedule: IndexedSeq[Commit] = {
    var next = baseRows
    (1 to commits).map { c =>
      (c - 1) % 3 match {
        case 0 =>
          val a = Append(next + ctx.rng.nextInt(100), appendRows)
          next = a.keys._2; a
        case 1 =>
          val from = ctx.rng.nextLong(next - deleteSpan)
          Delete(from, from + deleteSpan)
        case _ =>
          // mostly updates; keys past `next` are inserts, which later
          // appends must not collide with
          val m = Merge(Iterator.continually(ctx.rng.nextLong(next + 200)).distinct
            .take(mergeKeys).toSeq.sorted)
          next += 200; m
      }
    }
  }

  private def rowsFor(keys: DataFrame, rev: Int): DataFrame =
    keys.select(col("id").as("o_orderkey"), (col("id") % 1500).as("o_custkey"),
      when(lit(rev) % 2 === 0, "F").otherwise("O").as("o_orderstatus"),
      ((col("id") * 31 + rev) % 100000 / 100.0).as("o_totalprice"),
      date_add(lit(java.time.LocalDate.of(1995, 1, 1)), (col("id") % 2000).cast("int"))
        .as("o_orderdate"),
      lit(rev).as("o_rev"))

  private def input(c: Int): DataFrame = schedule(c - 1) match {
    case Append(from, n) => rowsFor(spark.range(from, from + n, 1, 1).toDF(), c)
    case Merge(ks) => rowsFor(spark.createDataFrame(ks.map(Tuple1(_))).toDF("id"), c)
    case _: Delete => spark.emptyDataFrame
  }

  /** Expected results from an in-memory key model (key -> revision that
    * last wrote it), replayed once here: the key count of each commit's
    * touched range after it, and the final (key, revision) pairs sorted by
    * key. Only primitive arrays are kept, so the model does not count in
    * `heap_retained_mb`.
    */
  private val (rangeCounts: Array[Int], endKeys: Array[Long], endRevs: Array[Int]) = {
    val m = mutable.HashMap.empty[Long, Int]
    (0L until baseRows).foreach(m(_) = 0)
    val counts = schedule.zipWithIndex.map { case (cm, j) =>
      cm match {
        case Append(from, n) => (from until from + n).foreach(m(_) = j + 1)
        case Delete(a, b) => (a until b).foreach(m.remove)
        case Merge(ks) => ks.foreach(m(_) = j + 1)
      }
      val (a, b) = cm.keys
      m.keysIterator.count(k => k >= a && k < b)
    }.toArray
    val ks = m.keys.toArray.sorted
    (counts, ks, ks.map(m))
  }

  private var table = ""
  private var liveFiles = 0
  private var refBytes = 0L
  private var startBytes = 0L
  // (commit, live files before it, latency ms) of every commit made
  private val made = mutable.ArrayBuffer.empty[(Int, Int, Double)]

  private def bytesUnder(dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.getContentSummary(p).getLength
  }

  private def freshTable(n: Int): Unit = {
    ctx.setup {
      table = ctx.path(s"ingest-$n")
      DeltaWriter.write(rowsFor(spark.range(0, baseRows, 1, 4).toDF(), 0), table)
    }
    liveFiles = DeltaLog.forPath(spark, table).liveFiles.size
  }

  def setup(): Unit = {
    // the schedule's rows written once as plain parquet: write_amp's base
    val ref = ctx.path("ingest-reference")
    (1 to commits).filterNot(c => schedule(c - 1).isInstanceOf[Delete])
      .foreach(c => input(c).write.mode("append").parquet(ref))
    refBytes = bytesUnder(ref)
    // set up three times for a steady setup_s; the warm-up commits to the
    // first table and the operations to the last
    (0 to 2).foreach(freshTable)
    startBytes = bytesUnder(table)
  }

  def op(i: Int): Any = {
    val c = i + 1
    val files = liveFiles
    val t = System.nanoTime
    commit(table, c)
    made += ((c, files, (System.nanoTime - t) / 1e6))
    c
  }

  private def commit(path: String, c: Int): Unit = schedule(c - 1) match {
    case _: Append =>
      ctx.tracer.span("commit.append")(
        DeltaWriter.write(input(c), path, mode = "append"))
    case Delete(a, b) =>
      ctx.tracer.span("commit.delete")(DeltaWriter.delete(spark, path,
        Seq(Cond("o_orderkey", ">=", a), Cond("o_orderkey", "<", b))))
    case _: Merge =>
      ctx.tracer.span("commit.merge")(
        DeltaWriter.merge(spark, path, input(c), Seq("o_orderkey")))
  }

  /** A run is the whole schedule, as long as it takes. */
  override def more(i: Int, spent: Boolean): Boolean = i < commits

  override def kind(i: Int): String = schedule(i).getClass.getSimpleName

  /** The schedule up to the first checkpoint on the first set-up table,
    * so every commit type and the checkpointing commit run warm.
    */
  override def warmup(): Unit = {
    val scratch = ctx.path("ingest-0")
    (1 to commits.min(10)).foreach { c =>
      commit(scratch, c)
      DeltaLake.scanDelta(spark, scratch, touched(c)).count()
    }
  }

  /** The key range commit `c` touched, optionally at an older version. */
  private def touched(c: Int, version: Option[Long] = None): ScanSettings = {
    val (a, b) = schedule(c - 1).keys
    ScanSettings(conditions = Seq(Cond("o_orderkey", ">=", a),
      Cond("o_orderkey", "<", b)), version = version)
  }

  /** Read-your-write: open latest, then count the touched key range. */
  def check(i: Int, out: Any): Boolean = {
    val c = out.asInstanceOf[Int]
    val snap = ctx.tracer.span("log.open_cached")(DeltaLog.forPath(spark, table))
    val (a, b) = schedule(c - 1).keys
    val df = DeltaLake.scanDelta(spark, table, touched(c))
    val n = ctx.tracer.span("scan.exec")(df.count())
    val want = rangeCounts(c - 1)
    val ok = snap.version == c && n == want
    if (!ok) System.err.println(
      s"perfbench: ingest commit $c: version ${snap.version}, $n keys in [$a, $b), want $want")
    liveFiles = snap.liveFiles.size
    ctx.record("commit.table_files", liveFiles.toDouble)
    val log = new Path(s"$table/_delta_log")
    val fs = log.getFileSystem(spark.sessionState.newHadoopConf())
    ctx.record("commit.log_bytes", fs.listStatus(log).toSeq
      .filter(_.getPath.getName.startsWith(f"$c%020d.")).map(_.getLen).sum.toDouble)
    if (c == commits) endState() && ok else ok
  }

  /** Skipping and deletion vectors on the read-your-write query. */
  override def side(i: Int): Unit = {
    val c = i + 1
    val snap = DeltaLog.forPath(spark, table)
    val kept = ctx.tracer.span("skip.plan")(snap.addActionsFiltered(touched(c).conditions))
    ctx.record("skip.files_total", snap.liveFiles.size.toDouble)
    ctx.record("skip.files_kept", kept.size.toDouble)
    val dvs = kept.flatMap(_.deletionVector)
    val deleted = ctx.tracer.span("dv.decode")(dvs.map(d =>
      DeletionVectors.deserializeData(DeletionVectors.read(spark, table, d)).length).sum)
    ctx.record("dv.rows_deleted", deleted.toDouble)
    if (schedule(i).isInstanceOf[Delete]) {
      // the touched range's count after the delete and one version before
      // it differ only by the new DVs. Both are timed warm, in alternating
      // order, three times each; the median difference is recorded.
      def countMs(v: Option[Long]): Double = {
        val df = DeltaLake.scanDelta(spark, table, touched(c, v))
        val t = System.nanoTime
        df.count()
        (System.nanoTime - t) / 1e6
      }
      val before = Some(c - 1L)
      ctx.tracer.on = false
      countMs(None); countMs(before)
      val diffs = (0 until 3).map { k =>
        if (k % 2 == 0) { val l = countMs(None); l - countMs(before) }
        else { val b = countMs(before); countMs(None) - b }
      }
      ctx.tracer.on = true
      ctx.record("dv.subtract_ms", diffs.sorted.apply(1))
    }
  }

  /** The end state equals the key model, row for row. */
  private def endState(): Boolean = {
    ctx.record("commit.write_amp",
      (bytesUnder(table) - startBytes).toDouble / refBytes, always = true)
    val got = DeltaLake.scanDelta(spark, table,
      ScanSettings(fields = Some(Seq("o_orderkey", "o_rev")))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).sortBy(_._1)
    got.map(_._1).sameElements(endKeys) && got.map(_._2).sameElements(endRevs)
  }

  override def finish(): Boolean = {
    // checkpointing commits minus the median of the same commit type
    def med(xs: Seq[Double]) = { val s = xs.sorted; if (s.isEmpty) 0.0 else s(s.size / 2) }
    val cpType = schedule.indices.filter(j => (j + 1) % 10 == 0).map(schedule(_).getClass)
    made.groupBy(x => schedule(x._1 - 1).getClass).foreach { case (cls, xs) =>
      if (cpType.contains(cls)) {
        val (cp, rest) = xs.partition(_._1 % 10 == 0)
        if (cp.nonEmpty && rest.nonEmpty)
          ctx.record("commit.checkpoint_ms", med(cp.map(_._3).toSeq) -
            med(rest.map(_._3).toSeq), always = true)
      }
    }
    // append latency against the table's live file count (least squares),
    // leaving out the checkpointing append
    val ap = made.filter(x => schedule(x._1 - 1).isInstanceOf[Append] && x._1 % 10 != 0)
      .map(x => (x._2.toDouble, x._3))
    if (ap.size >= 2) {
      val mx = ap.map(_._1).sum / ap.size
      val my = ap.map(_._2).sum / ap.size
      val sxx = ap.map(p => (p._1 - mx) * (p._1 - mx)).sum
      if (sxx > 0) ctx.record("commit.append_ms_per_file",
        ap.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx, always = true)
    }
    true
  }
}

private object Ingest {
  /** One commit of the schedule and the key range [from, until) it touches. */
  sealed trait Commit { def keys: (Long, Long) }
  final case class Append(from: Long, n: Long) extends Commit {
    def keys = (from, from + n)
  }
  final case class Delete(from: Long, until: Long) extends Commit {
    def keys = (from, until)
  }
  final case class Merge(ks: Seq[Long]) extends Commit {
    def keys = (ks.min, ks.max + 1)
  }
}
