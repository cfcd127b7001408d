package graft.delta

import org.apache.spark.sql.functions._

import graft.{DeltaLake, SparkSuite}

/** Wide (many-partition) scans: one parquet scan node whatever the
  * partition count, partition values typed by the index, column mapping
  * and NULL partitions intact.
  */
class WideScanSpec extends SparkSuite {

  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("wide path == union path on a partitioned written table") {
    val path = java.nio.file.Files.createTempDirectory("graft_wide").toString + "/t"
    val df = (1 to 50).map(i => (i.toLong, s"v$i", (i % 10).toString))
      .toDF("id", "payload", "bucket")
    DeltaWriter.write(df, path, partitionBy = Seq("bucket"))

    val back = DeltaLake.scanDelta(spark, path)
    assert(back.schema.fieldNames.toSeq == Seq("id", "payload", "bucket"))
    assert(rows(back) == rows(df))
    assert(rows(back).size == 50)

    // plan shape: exactly one parquet scan node over ten partitions (AQE
    // toString repeats the plan — look at the final section only)
    val planStr = back.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(planStr).size == 1, planStr)

    // filters still work (on both partition and data columns)
    val filtered = DeltaLake.scanDelta(spark, path,
      ScanSettings(conditions = Seq(Cond("bucket", "=", "3"), Cond("id", "<=", 23))))
    assert(filtered.collect().map(_.getAs[Long]("id")).sorted.toSeq == Seq(3L, 13L, 23L))
  }

  test("wide path handles column mapping + null partitions (faker2)") {
    val back = DeltaLake.scanDelta(spark, fixture("faker2"))
    assert(back.count() ==
      DeltaLake.deltaMeta(spark, fixture("faker2")).liveFiles
        .flatMap(_.liveRecords).sum)
    // the null-partition row survives with a NULL partition value
    val nullPart = back.where(col("`Company Very Short`").isNull)
    assert(nullPart.count() == 1)
  }
}
