package graft.delta

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions.{broadcast, coalesce, col}
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Scan options — the union of the reference's `PolarsSettings` +
  * scan keyword args (polars.py:42-69,361-378; duckdb.py:374-394).
  * They choose rows, columns and types, never the plan shape: every
  * scan is the one [[DeltaFileIndex]] scan.
  */
final case class ScanSettings(
    conditions: Seq[Cond] = Nil,
    fields: Option[Seq[String]] = None,
    excludeFields: Seq[String] = Nil,
    distinct: Boolean = false,
    limit: Option[Long] = None,
    version: Option[Long] = None,
    /** Timestamp time travel: scan the greatest version committed at or
      * before this instant (ignored when `version` is set).
      */
    timestampAsOf: Option[java.time.Instant] = None,
    actionFilter: AddAction => Boolean = _ => true,
    /** Target type overrides for timestamp columns — the reference's
      * `PolarsSettings.timestamp_type` / `timestamp_ntz_type`
      * (polars.py:42-69): e.g. read all TIMESTAMP columns as
      * TIMESTAMP_NTZ (or as StringType for export). Applied as a final
      * cast over the logical schema.
      */
    timestampType: Option[DataType] = None,
    timestampNtzType: Option[DataType] = None)

/** Compile a Delta snapshot into a Spark `DataFrame` — the engine's core.
  *
  * Per-file work (the reference's per-file SELECT list,
  * duckdb.py:450-522 / polars.py:444-550) collapses in Spark to three
  * moves:
  *
  *  1. read the parquet with an explicit *physical* schema: Spark
  *     matches nested fields by name against the footer and null-fills
  *     anything missing — schema evolution (P4) for free, no per-file
  *     footer probe needed;
  *  2. one `Cast` per top-level column back to the *logical* type:
  *     struct/array/map casts rename nested fields positionally, preserve
  *     NULL structs (no struct-of-NULLs regression) and absorb type
  *     widening — P1/P3/P5 in a single codegen'd expression;
  *  3. partition values typed by the [[DeltaFileIndex]], constant per
  *     file group (P2).
  *
  * Every read of Delta data files — snapshot scans, the DML passes,
  * stored change data and compaction — is built by [[fileScan]]: a
  * single `FileSourceScanExec` through [[DeltaFileIndex]] regardless of
  * file or partition count (SURVEY §7 risk register: union width), with
  * `_metadata.file_path` / `_metadata.row_index` keying rows for
  * deletion vectors ([[subtractDeleted]]) and row tracking
  * ([[withStableIds]]). Pruning (partition values + stats zone maps +
  * limit) happens driver-side AND planner-side (the index re-prunes
  * cached frames).
  */
object DeltaScan {

  /** Deleted-row total up to which the DV anti-join broadcasts its
    * (file, row index) side; larger sets shuffle.
    */
  private val DvBroadcastMaxRows = 5000000L

  def scan(spark: SparkSession, path: String,
      settings: ScanSettings = ScanSettings()): DataFrame = {
    val v = settings.version.orElse(settings.timestampAsOf.map(t =>
      DeltaLog.versionAtTimestamp(spark, path, t)))
    val snap = DeltaLog.forPath(spark, path, v)
    scanSnapshot(snap, settings)
  }

  def scanSnapshot(snap: DeltaSnapshot,
      settings: ScanSettings = ScanSettings()): DataFrame = {
    val spark = snap.spark
    snap.checkProtocolSupported()
    val schema = snap.schema
    val partCols = snap.partitionColumns.toSet

    // column pruning pushed into the per-file projection (P6), while
    // partition/stat pruning may still reference any column
    val projected: Seq[StructField] = settings.fields match {
      case Some(fs) =>
        val want = fs.toSet
        schema.fields.toSeq.filter(f => want.contains(f.name))
      case None =>
        schema.fields.toSeq.filterNot(f => settings.excludeFields.contains(f.name))
    }

    // data filters may reference columns outside the projection
    // (pruning "may still reference any column"): read them too, filter,
    // then drop them in the final select
    val condCols = settings.conditions.map(_.column).toSet
    val readFields: Seq[StructField] = projected ++
      schema.fields.toSeq.filter(f =>
        condCols.contains(f.name) && !projected.exists(_.name == f.name))

    val actions = snap.addActionsFiltered(
      settings.conditions, settings.limit, settings.actionFilter)

    val undeleted =
      if (actions.isEmpty) emptyTyped(spark, StructType(readFields))
      else {
        val scan = fileScan(snap, actions,
          readFields.filterNot(f => partCols.contains(f.name)))
        val cols = readFields.map(logicalCol(partCols))
        if (!actions.exists(_.hasDeletionVector)) scan.select(cols: _*)
        else subtractDeleted(spark, snap.deltaPath.stripSuffix("/"), actions,
            scan.select(cols ++ rowKey(scan): _*))
          .drop("__graft_file", "__graft_row_index")
      }

    val filtered0 =
      if (settings.conditions.nonEmpty)
        undeleted.where(Cond.compile(settings.conditions, Some(schema)))
      else undeleted
    val narrowed =
      if (readFields.lengthCompare(projected.size) == 0) filtered0
      else filtered0.select(projected.map(f => q(f.name)): _*)

    val retyped =
      if (settings.timestampType.isEmpty && settings.timestampNtzType.isEmpty) narrowed
      else narrowed.select(projected.map { f =>
        val target = f.dataType match {
          case org.apache.spark.sql.types.TimestampType => settings.timestampType
          case org.apache.spark.sql.types.TimestampNTZType => settings.timestampNtzType
          case _ => None
        }
        target.fold(q(f.name))(t => q(f.name).cast(t).as(f.name))
      }: _*)

    val distinct = if (settings.distinct) retyped.distinct() else retyped
    settings.limit.fold(distinct)(n =>
      if (n >= Int.MaxValue) distinct // file-level pruning already applied
      else distinct.limit(n.toInt))
  }

  /** The scan constructor: a `HadoopFsRelation` over a [[DeltaFileIndex]]
    * of `files`. Its columns are PHYSICAL — `dataFields` under their
    * physical names (absent in a file ⇒ null-filled), `extraPhysical`
    * read as-is, then the index's typed partition columns — and the file
    * source serves `_metadata.file_path` and `_metadata.row_index`.
    */
  private[delta] def fileScan(snap: DeltaSnapshot, files: Seq[AddAction],
      dataFields: Seq[StructField],
      extraPhysical: Seq[StructField] = Nil): DataFrame = {
    val index = new DeltaFileIndex(snap, files)
    val dataSchema = StructType(
      DeltaSchema.physicalize(StructType(dataFields)).fields ++ extraPhysical)
    snap.spark.baseRelationToDataFrame(HadoopFsRelation(
      index, partitionSchema = index.partitionSchema, dataSchema = dataSchema,
      bucketSpec = None, fileFormat = new ParquetFileFormat,
      options = Map.empty)(snap.spark))
  }

  /** Logical column `f` over a [[fileScan]] frame. Partition columns are
    * typed by the index already: alias-only, so partition predicates stay
    * recognizable to PruneFileSourcePartitions. Data columns cast back to
    * the logical type — nullability-relaxed: the file relation reports
    * everything nullable, and Cast refuses nullable→non-nullable.
    */
  private def logicalCol(partCols: Set[String])(f: StructField): Column = {
    val phys = q(DeltaSchema.physicalName(f))
    if (partCols.contains(f.name)) phys.as(f.name)
    else phys.cast(relax(f.dataType)).as(f.name)
  }

  /** The row key over a [[fileScan]] frame: `__graft_file` (normalized
    * path) and `__graft_row_index` (physical row position). The file key
    * comes from `_metadata.file_path`, a deterministic attribute: a
    * nondeterministic file-name expression in the projection would stop
    * Catalyst pushing predicates through it into the scan.
    */
  private[delta] def rowKey(scan: DataFrame): Seq[Column] = Seq(
    normalizeFileKey(scan.col("_metadata.file_path")).as("__graft_file"),
    scan.col("_metadata.row_index").as("__graft_row_index"))

  /** Logical scan of specific files that ALSO exposes `__graft_file`
    * and `__graft_row_index` ([[rowKey]]) — the read of the DML passes
    * (delete, update, merge, replaceWhere), [[DvCdf.rowsAt]], the CDF
    * inserts and stored change data. A projection over [[fileScan]], so
    * a predicate applied to it prunes partitions and is pushed into the
    * parquet scan. Existing deletion vectors are NOT applied (delete
    * must see all physical rows to merge bitmaps).
    */
  private[graft] def scanWithRowIndex(
      snap: DeltaSnapshot, actions: Seq[AddAction],
      /** Physical columns read AS-IS beyond the table schema (absent in
        * a file ⇒ null-filled) — the materialized row-tracking columns.
        */
      extraPhysical: Seq[StructField] = Nil): DataFrame = {
    val schema = snap.schema
    val partCols = snap.partitionColumns.toSet
    val scan = fileScan(snap, actions,
      schema.fields.toSeq.filterNot(f => partCols.contains(f.name)), extraPhysical)
    scan.select(schema.fields.toSeq.map(logicalCol(partCols)) ++
      extraPhysical.map(f => q(f.name)) ++ rowKey(scan): _*)
  }

  /** Scan with STABLE ROW IDS (PROTOCOL.md#row-tracking): the logical
    * table columns plus `_row_id` and `_row_commit_version`, resolved by
    * [[withStableIds]], so ids survive OPTIMIZE rewrites (which
    * materialize them) and DV DML (which never moves surviving rows).
    * Deletion vectors are applied; files without row-tracking fields
    * yield null ids (tracking was suspended when they were written).
    */
  private[graft] def scanWithStableIds(snap: DeltaSnapshot): DataFrame = {
    val spark = snap.spark
    snap.checkProtocolSupported()
    val schema = snap.schema
    val base = snap.deltaPath.stripSuffix("/")
    val actions = snap.liveFiles
    if (actions.isEmpty)
      return emptyTyped(spark, StructType(schema.fields ++ Seq(
        StructField("_row_id", LongType),
        StructField("_row_commit_version", LongType))))
    val matId = snap.configuration.get(DeltaWriter.MatRowIdKey)
    val matVer = snap.configuration.get(DeltaWriter.MatRowVersionKey)
    val extra = (matId.toSeq ++ matVer.toSeq).map(StructField(_, LongType))
    val ided = withStableIds(spark, base, actions,
      scanWithRowIndex(snap, actions, extra), matId, matVer,
      "_row_id", "_row_commit_version")
    subtractDeleted(spark, base, actions, ided).select(
      (schema.fieldNames.toSeq ++ Seq("_row_id", "_row_commit_version")).map(q): _*)
  }

  /** Stable row-id resolution (PROTOCOL.md#row-tracking) over a frame
    * keyed by [[rowKey]]: `idOut` = `coalesce(materialized id, baseRowId
    * + row index)` and `verOut` = `coalesce(materialized version,
    * defaultRowCommitVersion)` — the protocol's resolution order — with
    * each file's fields joined from a broadcast file→fields map. An
    * existing column named like an output is replaced in place.
    */
  private[delta] def withStableIds(spark: SparkSession, base: String,
      files: Seq[AddAction], df: DataFrame,
      matId: Option[String], matVer: Option[String],
      idOut: String, verOut: String): DataFrame = {
    val key = fileUri(spark, base)
    import spark.implicits._
    val info = files.map(a => (key(a), a.baseRowId, a.defaultRowCommitVersion))
      .toDF("__graft_file", "__graft_base", "__graft_dver")
    df.join(broadcast(info), Seq("__graft_file"))
      .withColumn(idOut, coalesce((matId.map(q).toSeq :+
        (col("__graft_base") + col("__graft_row_index"))): _*))
      .withColumn(verOut, coalesce((matVer.map(q).toSeq :+
        col("__graft_dver")): _*))
      .drop("__graft_base", "__graft_dver")
  }

  /** Deletion-vector subtraction: drop from `df` — keyed by [[rowKey]] —
    * the rows the deletion vectors of `files` mask. Compact bitmap bytes
    * ship to executors (one row per DV file), expansion to (file, row
    * index) pairs happens there, then one anti-join — broadcast while the
    * deleted-row total is at most [[DvBroadcastMaxRows]], shuffled beyond
    * that. The key columns stay; callers drop them.
    */
  private[delta] def subtractDeleted(spark: SparkSession, base: String,
      files: Seq[AddAction], df: DataFrame): DataFrame = {
    val dvFiles = files.filter(_.hasDeletionVector)
    if (dvFiles.isEmpty) return df
    val key = fileUri(spark, base)
    import spark.implicits._
    val deleted = spark.createDataset(dvFiles.map(a =>
        key(a) -> DeletionVectors.read(spark, base, a.deletionVector.get)))
      .flatMap { case (f, data) =>
        DeletionVectors.deserializeData(data).iterator.map(i => (f, i)) }
      .toDF("__graft_file", "__graft_row_index")
    val total = dvFiles.flatMap(_.deletionVector).map(_.cardinality).sum
    df.join(if (total <= DvBroadcastMaxRows) broadcast(deleted) else deleted,
      Seq("__graft_file", "__graft_row_index"), "left_anti")
  }

  /** The driver-side file key: an action's path resolved, qualified and
    * reduced to its decoded path component — what [[normalizeFileKey]]
    * computes from `_metadata.file_path` on the executors. The table
    * root's FileSystem is resolved once per call, not once per file;
    * only the path component is kept, so its scheme and authority never
    * matter.
    */
  private[graft] def fileUri(
      spark: SparkSession, base: String): AddAction => String = {
    val fs = new Path(base).getFileSystem(spark.sessionState.newHadoopConf())
    val (fsUri, workDir) = (fs.getUri, fs.getWorkingDirectory)
    a => new Path(resolvePath(base, a.path))
      .makeQualified(fsUri, workDir).toUri.getPath
  }

  private def q(n: String): Column = col(s"`${n.replace("`", "``")}`")

  /** Zero live files ⇒ typed empty relation with the full logical schema
    * (duckdb.py:523-528, polars.py:551-558).
    */
  private def emptyTyped(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Deep nullability relaxation (every field/element/value nullable). */
  private def relax(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      StructField(f.name, relax(f.dataType), nullable = true, f.metadata)))
    case org.apache.spark.sql.types.ArrayType(et, _) =>
      org.apache.spark.sql.types.ArrayType(relax(et), containsNull = true)
    case org.apache.spark.sql.types.MapType(k, v, _) =>
      org.apache.spark.sql.types.MapType(relax(k), relax(v), valueContainsNull = true)
    case other => other
  }

  /** `_metadata.file_path` is a percent-encoded URI (`file:///…`);
    * reduce it to the decoded path component to match the driver-built
    * keys (scheme and authority dropped on both sides). `url_decode` is
    * FORM decoding — a literal '+' in the path (legal in file names and
    * partition values) would decode to a space and silently drop every
    * row of that file at the broadcast join; protect it first, exactly
    * as [[decodePath]] does.
    */
  private def normalizeFileKey(c: Column): Column =
    org.apache.spark.sql.functions.url_decode(
      org.apache.spark.sql.functions.regexp_replace(
        org.apache.spark.sql.functions.regexp_replace(
          c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?", ""),
        "\\+", "%2B"))


  /** add.path is percent-encoded in the log (spaces etc.). Percent-decode
    * ONLY — form decoding (URLDecoder) would corrupt literal '+' to a
    * space.
    */
  private[delta] def decodePath(p: String): String =
    java.net.URLDecoder.decode(p.replace("+", "%2B"), "UTF-8")

  /** The protocol allows absolute add.path URIs (shallow clones /
    * external files); only relative paths get the table-root prefix.
    * Absolute URIs are percent-encoded like relative paths (delta-spark
    * convention), so the PATH component is decoded the same way —
    * leaving it raw would break any clone whose source has
    * hive-escaped partition directories (their names contain literal
    * '%XX' sequences that the writer re-encodes as '%25XX').
    *
    * A URI is anything opening with an RFC-3986 scheme and a slash —
    * BOTH authority ("file:///t/x", "s3a://bucket/x") and
    * empty-authority single-slash forms ("file:/t/x", what
    * `org.apache.hadoop.fs.Path.toString` emits for local paths): a
    * '://'-only test mistook the latter for a relative path and mangled
    * it to '<base>/file:/t/x'. A relative add.path can never false-match
    * — hive escaping percent-encodes ':' in directory names.
    */
  private val SchemeSlash =
    java.util.regex.Pattern.compile("^[A-Za-z][A-Za-z0-9+.-]*:/")

  private[delta] def resolvePath(base: String, rawPath: String): String =
    if (SchemeSlash.matcher(rawPath).find()) {
      val colon = rawPath.indexOf(':')
      val rest = rawPath.substring(colon + 1)
      if (rest.startsWith("//")) { // authority form: decode after it
        val j = rawPath.indexOf('/', colon + 3)
        if (j < 0) rawPath
        else rawPath.take(j) + decodePath(rawPath.substring(j))
      } else rawPath.take(colon + 1) + decodePath(rest)
    } else {
      val d = decodePath(rawPath)
      if (d.startsWith("/")) d else s"$base/$d"
    }
}
