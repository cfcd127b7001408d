package graft.delta

import org.apache.spark.sql.DataFrame

/** Shared deletion-vector change-feed machinery: descriptor diffing and
  * row extraction, used by BOTH the batch CDF
  * (`DeltaLake.scanDeltaChanges` / `scanDeltaDeletedRows`) and the
  * streaming source (`DeltaStream.runAvailableNowCdf`) — one
  * implementation, so the batch and streaming halves cannot silently
  * diverge.
  */
private[graft] object DvCdf {

  /** Row-index diff between two DV descriptors of the SAME file:
    * (newly deleted, restored). Unchanged descriptors short-circuit to
    * empty without reading either bitmap; otherwise both are
    * deserialized driver-side (compact bytes). A shrinking bitmap —
    * un-deleting rows, e.g. an external writer's RESTORE — surfaces in
    * the second component; dropping it would make "inserts then deletes
    * nets to the table state" silently false.
    */
  def diffIndices(
      spark: org.apache.spark.sql.SparkSession, base: String,
      prior: Option[DeletionVectorDescriptor],
      now: Option[DeletionVectorDescriptor]): (Seq[Long], Seq[Long]) =
    if (prior == now) (Nil, Nil)
    else {
      def setOf(d: Option[DeletionVectorDescriptor]): Set[Long] =
        d.map(dv => DeletionVectors.deserializeData(
          DeletionVectors.read(spark, base, dv)).toSet)
          .getOrElse(Set.empty)
      // read only the bitmaps a non-empty component actually needs: an
      // absent side makes one component trivially empty, and each read
      // is driver-side I/O a caller may be paying per changed file
      (prior, now) match {
        case (None, _) => (setOf(now).toSeq, Nil)
        case (_, None) => (Nil, setOf(prior).toSeq)
        case _ =>
          val p = setOf(prior)
          val n = setOf(now)
          ((n -- p).toSeq, (p -- n).toSeq)
      }
    }

  /** Read exactly the given (file, row-index) pairs from `snap`'s
    * files: one distributed scan over the touched files + broadcast
    * semi-join on the normalized key. Live DVs are NOT applied (the
    * row set is explicit).
    */
  def rowsAt(
      snap: DeltaSnapshot, diffs: Seq[(AddAction, Seq[Long])]): DataFrame = {
    val spark = snap.spark
    val base = snap.deltaPath.stripSuffix("/")
    import org.apache.spark.sql.functions.{broadcast, col, explode}
    import spark.implicits._
    val key = DeltaScan.fileUri(spark, base)
    val pairs = diffs.map { case (a, idx) => key(a) -> idx }.toDF("__graft_file", "__graft_ri_list")
      .select(col("__graft_file"),
        explode(col("__graft_ri_list")).as("__graft_row_index"))
    DeltaScan.scanWithRowIndex(snap, diffs.map(_._1))
      .join(broadcast(pairs), Seq("__graft_file", "__graft_row_index"),
        "left_semi")
      .drop("__graft_file", "__graft_row_index")
  }
}
