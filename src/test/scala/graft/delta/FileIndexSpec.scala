package graft.delta

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.{DeltaLake, SparkSuite}

/** The Catalyst-native DeltaFileIndex path: one FileSourceScanExec
  * regardless of partition count, with partition pruning and stats
  * skipping happening INSIDE the planner — so a DataFrame built with no
  * conditions still prunes under predicates applied later (the
  * driver-side pre-pruning can only apply construction-time conditions).
  */
class FileIndexSpec extends SparkSuite {

  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_fidx").toString + "/t"

  /** Every FileSourceScanExec in the (possibly AQE-finalized) plan —
    * descends into AdaptiveSparkPlanExec and materialized query stages,
    * which `collect` alone does not traverse.
    */
  private def allScans(plan: org.apache.spark.sql.execution.SparkPlan)
      : Seq[FileSourceScanExec] =
    (plan.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        allScans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        allScans(q.plan)
    } ++ plan.subqueries.map(allScans)).flatten

  private def scanExec(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect() // materialize so AQE finalizes and metrics populate
    val plans = allScans(df.queryExecution.executedPlan)
    assert(plans.nonEmpty, "no FileSourceScanExec — index path not taken")
    plans.head
  }

  test("one scan node; partition pruning applies to LATER predicates") {
    val path = tmp()
    val df = (1L to 60L).map(i => (i, s"p${i % 6}")).toDF("id", "p")
    DeltaWriter.write(df.repartition(2), path, partitionBy = Seq("p"))
    val total = DeltaLog.forPath(spark, path).liveFiles.size
    assert(total >= 6)

    // built WITHOUT conditions — pruning must come from Catalyst
    val base = DeltaLake.scanDelta(spark, path)
    val full = scanExec(base)
    assert(full.metrics("numFiles").value == total)

    val pruned = base.where(col("p") === "p3")
    assert(pruned.collect().forall(_.getAs[String]("p") == "p3"))
    assert(pruned.count() == 10)
    val scan = scanExec(base.where(col("p") === "p3"))
    val perPart = total / 6
    assert(scan.metrics("numFiles").value <= perPart,
      s"read ${scan.metrics("numFiles").value} files, expected <= $perPart " +
        "— partition pruning did not reach the index")
    // exactly ONE scan node however many partitions exist
    assert(base.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.size == 1)
  }

  test("stats zone maps skip files through pushed data filters") {
    val path = tmp()
    // 4 files with disjoint id ranges → min/max stats partition the domain
    (0 until 4).foreach { b =>
      val df = ((b * 100L + 1) to (b * 100L + 100)).toDF("id")
      DeltaWriter.write(df.coalesce(1), path,
        mode = if (b == 0) "overwrite" else "append")
    }
    assert(DeltaLog.forPath(spark, path).liveFiles.size == 4)
    val base = DeltaLake.scanDelta(spark, path)
    assert(base.where(col("id") > 350L).count() == 50)
    val scan = scanExec(base.where(col("id") > 350L))
    assert(scan.metrics("numFiles").value == 1,
      s"read ${scan.metrics("numFiles").value} files, stats skipping " +
        "did not reach the index")
    // IS NULL / equality shapes translate too
    assert(base.where(col("id") === 150L).count() == 1)
    assert(scanExec(base.where(col("id") === 150L)).metrics("numFiles").value == 1)
  }

  test("column-mapped partition column prunes by physical name") {
    // physical partition name differs from logical: the index exposes
    // the physical name and the projection aliases it back
    val path = tmp()
    val df = Seq((1L, "A"), (2L, "B"), (3L, "A")).toDF("id", "cat")
    DeltaWriter.write(df, path, partitionBy = Seq("cat"))
    val base = DeltaLake.scanDelta(spark, path)
    val rows = base.where(col("cat") === "A").collect()
    assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == Seq(1L, 3L))
    val scan = scanExec(base.where(col("cat") === "A"))
    assert(scan.metrics("numFiles").value <
      DeltaLog.forPath(spark, path).liveFiles.size)
  }

  test("deletion-vector table: ONE scan node, deleted rows subtracted") {
    // DV tables ride the index path too (round-4 unification): the
    // row-index/file-key columns come from _metadata over the single
    // FileSourceScanExec, not from per-partition union branches
    val path = tmp()
    val df = (1L to 100L).map(i => (i, s"p${i % 4}")).toDF("id", "p")
    DeltaWriter.write(df.repartition(2), path, partitionBy = Seq("p"))
    DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 20L)))

    val base = DeltaLake.scanDelta(spark, path)
    assert(base.count() == 80)
    assert(base.where(col("id") <= 20L).count() == 0)
    // exactly ONE scan node over the data files (the anti-join build
    // side is a driver-built dataset, not a parquet scan)
    base.collect()
    assert(allScans(base.queryExecution.executedPlan).size == 1,
      "DV table did not take the single-scan index path")
    // planner-side partition pruning still applies on top of the DV join
    val pruned = base.where(col("p") === "p1")
    assert(pruned.collect().forall(_.getAs[String]("p") == "p1"))
    val scan = scanExec(base.where(col("p") === "p1"))
    val total = DeltaLog.forPath(spark, path).liveFiles.size
    assert(scan.metrics("numFiles").value < total,
      "partition pruning did not reach the index on a DV table")
  }

  test("DV file keys survive special characters in partition paths") {
    // the anti-join matches `_metadata.file_path` (scan side) against
    // driver-built URIs: partition values with spaces and '+' land in
    // directory names and must normalize identically on both sides
    val path = tmp()
    val df = Seq((1L, "a b"), (2L, "a b"), (3L, "c+d"), (4L, "c+d"))
      .toDF("id", "p")
    DeltaWriter.write(df, path, partitionBy = Seq("p"))
    assert(DeltaWriter.delete(spark, path, Seq(Cond("id", "in", Seq(1L, 3L)))) == 2L)
    val rows = DeltaLake.scanDelta(spark, path).collect()
    assert(rows.map(_.getAs[Long]("id")).sorted.toSeq == Seq(2L, 4L),
      s"got ${rows.mkString(", ")} — file-key normalization diverged")
  }

  test("DML, row-id and CDF reads plan ONE DeltaFileIndex scan") {
    // delete/update's predicate pass, the stable-id scan, DV change rows
    // and stored change data all go through the one scan constructor: a
    // single FileSourceScanExec over a DeltaFileIndex, with the DML
    // predicate pushed into the parquet scan
    val path = tmp()
    val df = (1L to 100L).map(i => (i, s"p${i % 4}", s"v$i")).toDF("id", "p", "s")
    DeltaWriter.write(df.repartition(2), path, partitionBy = Seq("p"),
      properties = Map("delta.enableChangeDataFeed" -> "true"))
    DeltaWriter.delete(spark, path, Seq(Cond("id", "<=", 10L)))
    DeltaLake.updateWhere(spark, path, Seq(Cond("id", "<=", 20L)),
      Map("s" -> lit("u")))
    val snap = DeltaLog.forPath(spark, path)

    def oneIndexScan(what: String, d: org.apache.spark.sql.DataFrame)
        : FileSourceScanExec = {
      d.collect()
      val scans = allScans(d.queryExecution.executedPlan)
      assert(scans.size == 1, s"$what: ${scans.size} scan nodes")
      assert(scans.head.relation.location.isInstanceOf[DeltaFileIndex],
        s"$what: ${scans.head.relation.location.getClass.getSimpleName}")
      scans.head
    }

    val pred = Cond.compile(Seq(Cond("id", ">", 90L)), Some(snap.schema))
    val deleteShape = DeltaScan.scanWithRowIndex(snap, snap.liveFiles).where(pred)
    assert(deleteShape.count() == 10)
    val pushed = oneIndexScan("delete predicate pass", deleteShape)
      .metadata("PushedFilters")
    assert(pushed != "[]", s"PushedFilters: $pushed")
    val partShape = DeltaScan.scanWithRowIndex(snap, snap.liveFiles)
      .where(col("p") === "p1")
    val partScan = oneIndexScan("partition predicate pass", partShape)
    assert(partScan.metrics("numFiles").value < snap.liveFiles.size,
      "partition pruning did not reach the index on the DML pass")

    val ids = DeltaScan.scanWithStableIds(snap)
    assert(ids.count() == 90)
    oneIndexScan("scanWithStableIds", ids)

    val dvFile = snap.liveFiles.find(_.hasDeletionVector).get
    val rowsAt = DvCdf.rowsAt(snap, Seq(dvFile -> Seq(0L)))
    assert(rowsAt.count() == 1)
    oneIndexScan("DvCdf.rowsAt", rowsAt)

    val cdcs = CdfEngine.cdcActions(DeltaLog.readCommitJson(spark, path, 2L).get)
    assert(cdcs.nonEmpty)
    val stored = CdfEngine.readStored(snap, cdcs)
    assert(stored.count() == 20) // 10 live matches: pre + post images
    oneIndexScan("CdfEngine.readStored", stored)
  }
}
