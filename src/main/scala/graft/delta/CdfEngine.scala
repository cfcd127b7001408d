package graft.delta

import com.fasterxml.jackson.databind.JsonNode

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, when}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Per-commit change-data extraction shared by the batch CDF
  * (`DeltaLake.scanDeltaCdf` / the `graft_delta_cdf` TVF) and the
  * streaming source (`DeltaStream.runAvailableNowCdf`) — ONE
  * implementation, so the batch and streaming halves cannot diverge.
  *
  * Two sources of truth, in protocol order (PROTOCOL.md#add-cdc-file):
  *
  *  1. STORED change data: when a commit carries `cdc` actions, the
  *     `_change_data/` files they point at are the COMPLETE change data
  *     for that commit — used exclusively, the commit's add/remove
  *     actions ignored. This is how UPDATE/MERGE pre-images written by
  *     any engine (including ours, [[DeltaWriter]] under
  *     `delta.enableChangeDataFeed`) reach readers.
  *  2. DERIVED change data (fallback, also the pre-CDF behavior): the
  *     commit's `dataChange` adds are inserts; deletion-vector growth on
  *     re-added live paths retracts; DV shrinkage (an external RESTORE)
  *     re-inserts. Bitmap diffs are driver-side compact-bitmap work via
  *     [[DvCdf]]; unchanged descriptors cost nothing.
  *
  * Extraction is two-phase ([[spec]] against the PRE-commit live-file
  * map, [[materialize]] against the POST-commit snapshot) because both
  * callers fold the commit's lines into an incrementally-advanced
  * snapshot between the two — O(head) commit reads for a whole window,
  * never a fresh replay per version.
  */
private[graft] object CdfEngine {

  val ChangeTypeCol = "_change_type"

  def cdcActions(lines: Seq[JsonNode]): Seq[CdcAction] =
    lines.flatMap(n => Option(n.get("cdc")).filterNot(_.isNull)
      .map(ActionCodec.parseCdc))

  /** Stored change-data rows: logical table columns + the RAW
    * `_change_type` (`insert`/`delete`/`update_preimage`/
    * `update_postimage`). The cdc files are read like data files, as
    * add-shaped entries (path, partitionValues, size) through the one
    * scan constructor ([[DeltaScan.scanWithRowIndex]]): explicit
    * physical schema (schema evolution null-fills), partition values
    * typed by the index, `_change_type` an extra physical column.
    */
  def readStored(snap: DeltaSnapshot, cdcs: Seq[CdcAction]): DataFrame =
    DeltaScan.scanWithRowIndex(snap,
      cdcs.map(c => AddAction(c.path, c.partitionValues, c.size, 0L, None)),
      Seq(StructField(ChangeTypeCol, StringType)))
      .drop("__graft_file", "__graft_row_index")

  /** Collapse the four stored change types onto the engine's net-change
    * contract: `update_preimage` IS the retraction of the old row and
    * `update_postimage` the insertion of the new one, so applying
    * inserts then deletes still nets to the state delta.
    */
  def normalize(df: DataFrame): DataFrame =
    df.withColumn(ChangeTypeCol,
      when(col(ChangeTypeCol) === "update_preimage", lit("delete"))
        .when(col(ChangeTypeCol) === "update_postimage", lit("insert"))
        .otherwise(col(ChangeTypeCol)))

  /** What one commit changes — extracted from its action lines against
    * the PRE-commit live-file map. Stored cdc actions preempt the
    * derived fields entirely (protocol exclusivity rule).
    */
  final case class CommitSpec(
      stored: Seq[CdcAction],
      newPaths: Set[String],
      delDiffs: Seq[(AddAction, Seq[Long])],
      resDiffs: Seq[(AddAction, Seq[Long])]) {
    def isEmpty: Boolean = stored.isEmpty && newPaths.isEmpty &&
      delDiffs.isEmpty && resDiffs.isEmpty
  }

  def spec(spark: SparkSession, base: String,
      priorByPath: Map[String, AddAction],
      lines: Seq[JsonNode],
      conditions: Seq[Cond] = Nil,
      pruneSchema: Option[StructType] = None): CommitSpec = {
    val skip = skipper(conditions, pruneSchema)
    val stored = cdcActions(lines)
    // protocol exclusivity: a commit WITH cdc actions never falls back
    // to derived extraction, even when pruning drops every cdc file
    if (stored.nonEmpty)
      CommitSpec(stored.filterNot(c =>
        skip(AddAction(c.path, c.partitionValues, c.size, 0L, None))),
        Set.empty, Nil, Nil)
    else {
      val adds = lines.flatMap(n =>
        Option(n.get("add")).filterNot(_.isNull).map(ActionCodec.parseAdd))
        .filter(_.dataChange)
      val newPaths = adds.collect {
        case a if !priorByPath.contains(a.path) && !skip(a) => a.path }.toSet
      // re-adds of live paths: diff the DV descriptors — bitmap growth
      // retracts, shrinkage re-inserts (restore). The re-add's stats
      // describe the UNCHANGED physical parquet (only the DV moved), so
      // zone-map pruning is valid for the retracted/restored rows too.
      var delDiffs = Vector.empty[(AddAction, Seq[Long])]
      var resDiffs = Vector.empty[(AddAction, Seq[Long])]
      adds.filter(a => priorByPath.contains(a.path) && !skip(a)).foreach { a =>
        val (dels, res) = DvCdf.diffIndices(spark, base,
          priorByPath(a.path).deletionVector, a.deletionVector)
        if (dels.nonEmpty) delDiffs :+= (a -> dels)
        if (res.nonEmpty) resDiffs :+= (a -> res)
      }
      CommitSpec(Nil, newPaths, delDiffs, resDiffs)
    }
  }

  /** Remap a change batch materialized under `vSchema` (the snapshot
    * schema at its commit) onto the HEAD logical schema by
    * PHYSICAL-name correspondence — renames keep the physical name, so
    * the head logical name wins; columns dropped at head leave the
    * feed; later-added columns null-fill in the caller's union. Without
    * this, a feed window spanning a RENAME splits one physical column
    * into two half-null logical ones (or, filtered, fails analysis).
    * Shared by the batch and streaming CDF so they cannot diverge.
    */
  def remapToHead(df: DataFrame, vSchema: StructType,
      headSchema: StructType): DataFrame = {
    val headP2L = DeltaSchema.logicalToPhysical(headSchema).map(_.swap)
    val vL2P = DeltaSchema.logicalToPhysical(vSchema)
    def q(n: String) = col("`" + n.replace("`", "``") + "`")
    val cols = df.columns.toSeq.flatMap {
      case c if c == ChangeTypeCol => Some(q(c))
      case c => headP2L.get(vL2P.getOrElse(c, c)).map(hl => q(c).as(hl))
    }
    df.select(cols: _*)
  }

  /** Metadata pruning for a FILTERED change-feed consumer: cdc actions
    * carry `partitionValues` exactly like adds (PROTOCOL.md
    * #add-cdc-file), so the same M2 partition machinery — and, where
    * the action carries stats, the zone maps — drops change files whose
    * partition provably can't match BEFORE any IO. Fail-open like the
    * scan path: `canSkip` keeps the file on any doubt, and a pruned
    * file's rows are removed by the residual row filter anyway.
    */
  private def skipper(conditions: Seq[Cond],
      schema: Option[StructType]): AddAction => Boolean =
    schema match {
      case Some(sch) if conditions.nonEmpty =>
        val physToField = DeltaSchema.physicalToField(sch)
        val logToPhys = DeltaSchema.logicalToPhysical(sch)
        a => FileSkipping.canSkip(a, conditions, physToField, logToPhys)
      case _ => _ => false
    }

  /** The commit's change rows against the POST-commit snapshot,
    * `_change_type` normalized to {insert, delete}; None when the commit
    * changed nothing CDF-visible (metadata-only, layout-only rewrites).
    */
  def materialize(snap: DeltaSnapshot, s: CommitSpec): Option[DataFrame] = {
    if (s.isEmpty) return None
    // DV-only / stored-only batches bypass scanSnapshot, which normally
    // carries the protocol gate — apply it explicitly so a commit that
    // only touches bitmaps can't emit rows from an unsupported table
    snap.checkProtocolSupported()
    if (s.stored.nonEmpty) return Some(normalize(readStored(snap, s.stored)))
    val newFiles =
      if (s.newPaths.isEmpty) None
      else Some(DeltaScan.scanSnapshot(snap,
        ScanSettings(actionFilter = a => s.newPaths.contains(a.path))))
    val restored =
      if (s.resDiffs.isEmpty) None else Some(DvCdf.rowsAt(snap, s.resDiffs))
    val inserts = (newFiles, restored) match {
      case (Some(i), Some(r)) => Some(i.unionByName(r))
      case (i, r) => i.orElse(r)
    }
    val deletes =
      if (s.delDiffs.isEmpty) None else Some(DvCdf.rowsAt(snap, s.delDiffs))
    (inserts.map(_.withColumn(ChangeTypeCol, lit("insert"))),
      deletes.map(_.withColumn(ChangeTypeCol, lit("delete")))) match {
      case (Some(i), Some(d)) => Some(i.unionByName(d))
      case (i, d) => i.orElse(d)
    }
  }
}
