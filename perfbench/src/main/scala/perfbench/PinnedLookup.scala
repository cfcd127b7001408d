package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, concat, input_file_name, lit}
import org.apache.spark.sql.types.StringType

import graft.{DeltaLake, PerfbenchProbe}
import graft.delta.{Cond, DeletionVectors, DeltaLog, DeltaScan, DeltaSnapshot,
  DeltaWriter, ScanSettings}

/** Point reads where metadata does the work: a many-file table whose
  * files each hold one narrow key range, so min/max skipping keeps one
  * file, and a 60-commit log with the default checkpoint every 10 commits.
  * Three of four lookups pin an older version (the snapshot cache is
  * bypassed and the log replayed from the nearest checkpoint); the fourth
  * reads latest through the cache. Parquet I/O is one small file.
  */
final class PinnedLookup(ctx: Ctx) extends Workload {
  import ctx.spark
  import PinnedLookup._

  // The writer spends ~20-30 ms per new file on 4 cores (a status call and
  // a footer read each), so the file count keeps set-up within budget.
  private val files = if (ctx.smoke) 40 else 200
  private val rowsPerFile = 8
  private val keys = files.toLong * rowsPerFile
  // a multiple of the checkpoint interval (10), at least 20
  private val commits = if (ctx.smoke) 20 else 60
  // metadata-only commits make the row a lookup must return depend on the
  // version it pins: a column appears at `addedAt`, another is renamed at
  // `renamedAt` (turning column mapping on); the rest set a table property
  private val addedAt = commits / 3
  private val renamedAt = 2 * commits / 3
  private val table = ctx.path("pinned")

  def setup(): Unit = {
    ctx.setup {
      // spark.range partitions are contiguous key ranges; capping rows per
      // file splits each into files of one narrow key range, no shuffle
      val df = spark.range(0, keys, 1, 4).select(col("id").as("key"),
        (col("id") * 7919 % 100003).as("amount"),
        concat(lit("k"), col("id").cast("string")).as("name"))
      spark.conf.set("spark.sql.files.maxRecordsPerFile", rowsPerFile.toLong)
      try DeltaWriter.write(df, table)
      finally spark.conf.unset("spark.sql.files.maxRecordsPerFile")
      (1 to commits).foreach {
        case `addedAt` => DeltaLake.addColumn(spark, table, "note", StringType)
        case `renamedAt` => DeltaLake.renameColumn(spark, table, "name", "label")
        case v => DeltaLake.setTableProperties(spark, table,
          Map("perfbench.step" -> v.toString))
      }
    }
  }

  private val plan = scala.collection.mutable.Map.empty[Int, Lookup]
  private var lastSnap: DeltaSnapshot = _
  // a pinned version is a random checkpoint in [10, commits) plus an offset
  // that cycles through a seeded order of 0-9: each ten pinned lookups
  // replay 0-9 commit JSONs once each, so the seed does not shift the
  // replay mix that op_p50_ms sees
  private val offsets = ctx.rng.shuffle((0L until 10L).toIndexedSeq)
  private var pinned = 0

  // every fourth lookup reads latest, at a fixed position so the mix does
  // not vary between runs; it is even, so traced runs time the cache too
  private def lookupFor(i: Int): Lookup = plan.getOrElseUpdate(i, {
    val k = ctx.rng.nextLong(keys)
    val v = if (Math.floorMod(i, 4) == 2) None else {
      pinned += 1
      Some(10 * (1 + ctx.rng.nextLong(commits / 10 - 1)) + offsets(pinned % 10))
    }
    Lookup(k, v)
  })

  override def kind(i: Int): String = if (lookupFor(i).version.isEmpty) "latest" else "pinned"

  override def warmup(): Unit = (-12 to -1).foreach(i => check(i, op(i)))

  private def settings(l: Lookup) =
    ScanSettings(version = l.version, conditions = Seq(Cond("key", "=", l.key)))

  def op(i: Int): Any = {
    val l = lookupFor(i)
    // DeltaScan.scan is exactly forPath + scanSnapshot; split so each half
    // gets its own span (with tracing off a span just runs its body)
    val reads = PerfbenchProbe.logReads
    val snap = ctx.tracer.span(if (l.version.isEmpty) "log.open_cached"
      else "log.open")(DeltaLog.forPath(spark, table, l.version))
    // a pinned replay reads `_last_checkpoint` and the version's `.crc`
    // besides the commit JSONs after its checkpoint
    if (l.version.isDefined)
      ctx.record("log.json_commits", (PerfbenchProbe.logReads - reads - 2).toDouble)
    lastSnap = snap
    val df = ctx.tracer.span("scan.build") {
      val d = DeltaScan.scanSnapshot(snap, settings(l))
      d.queryExecution.executedPlan
      d
    }
    ctx.tracer.span("scan.exec")(df.collect())
  }

  def check(i: Int, out: Any): Boolean = {
    val l = lookupFor(i)
    val v = l.version.getOrElse(commits.toLong)
    val nameCol = if (v >= renamedAt) "label" else "name"
    val want = Seq("key" -> l.key, "amount" -> l.key * 7919 % 100003,
      nameCol -> s"k${l.key}") ++ (if (v >= addedAt) Seq("note" -> null) else Nil)
    out.asInstanceOf[Array[Row]] match {
      case Array(r) => r.schema.fieldNames.toSeq == want.map(_._1) &&
        want.zipWithIndex.forall { case ((_, x), j) => r.get(j) == x }
      case _ => false
    }
  }

  override def side(i: Int): Unit = {
    val l = lookupFor(i)
    val snap = lastSnap
    val conds = settings(l).conditions
    val kept = ctx.tracer.span("skip.plan")(snap.addActionsFiltered(conds))
    ctx.record("skip.files_total", snap.liveFiles.size.toDouble)
    ctx.record("skip.files_kept", kept.size.toDouble)
    // kept files that hold the key
    val base = table.stripSuffix("/")
    val hits = spark.read.parquet(kept.map(a => s"$base/${a.path}"): _*)
      .where(col("key") === l.key).select(input_file_name()).distinct().count()
    ctx.record("skip.precision", if (kept.isEmpty) 1.0 else hits.toDouble / kept.size)
    val dvs = kept.flatMap(_.deletionVector)
    val deleted = ctx.tracer.span("dv.decode")(dvs.map(d =>
      DeletionVectors.deserializeData(DeletionVectors.read(spark, table, d)).length).sum)
    ctx.record("dv.rows_deleted", deleted.toDouble)
  }
}

private object PinnedLookup {
  final case class Lookup(key: Long, version: Option[Long])
}
