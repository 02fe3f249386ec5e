package org.apache.spark.sql.execution.datasources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Package-placed DSv2 bridge, same policy as [[GraftFilterTranslation]]:
  * graft's V2 catalog (`graft.api.TxCatalog`) reuses Spark's OWN parquet
  * scan/write machinery — `ParquetScanBuilder` (vectorized reads, parquet
  * row-group pushdown, file-split planning), `ParquetFileFormat`'s
  * row-based reader, and `ParquetUtils.prepareWrite`'s executor-side
  * `OutputWriterFactory` — all `private[sql]`. Hand-rolling any of them
  * would be a second, driftable copy of load-bearing IO code; this file
  * only FORWARDS construction, it implements nothing. The same
  * in-package access route Spark-native extensions (Delta, Iceberg's
  * spark module) use for these exact calls.
  */
object GraftV2Bridge {

  /** Spark's V2 parquet scan builder over a commit-log-backed index:
    * the DSv2 read path is Spark's native vectorized scan with
    * non-empty PushedFilters.
    *
    * `fileColScan` handles the ONE shape parquet cannot serve: a
    * required schema containing one of the `metaCols` metadata columns
    * (`_file` is the row-level rewrite's group id — Spark's runtime
    * group filtering plans its matching-rows subquery against the
    * ORIGINAL table relation projecting `_file`). Those scans switch to
    * the caller's row-based file scan; every other scan stays native
    * columnar parquet. Empty `metaCols`: a plain parquet scan.
    */
  def parquetScanBuilder(spark: SparkSession,
                         index: PartitioningAwareFileIndex,
                         dataSchema: StructType,
                         options: CaseInsensitiveStringMap,
                         metaCols: Set[String],
                         fileColScan: (StructType, Array[org.apache.spark.sql.sources.Filter]) =>
                           org.apache.spark.sql.connector.read.Scan,
                         wrap: org.apache.spark.sql.connector.read.Scan =>
                           org.apache.spark.sql.connector.read.Scan = identity)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    new GraftMetaAwareParquetScanBuilder(spark, index, dataSchema, options,
      metaCols, fileColScan, wrap)

  /** Row-based parquet reader for the row-level-operation scan (the
    * copy-on-write rewrite reads WHOLE files — parquet row filtering
    * must stay off, and rows must be appendable with the `_file`
    * metadata column, so the vectorized-batch contract is the wrong
    * shape here). Built on the driver, serializable to executors —
    * exactly the `FileFormat.buildReaderWithPartitionValues` closure
    * Spark's own V1 scans ship.
    */
  def parquetRowReader(spark: SparkSession,
                       dataSchema: StructType,
                       requiredSchema: StructType)
      : PartitionedFile => Iterator[InternalRow] =
    new parquet.ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = dataSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = requiredSchema,
      filters = Nil,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConf())

  /** Whether Spark's vectorized parquet reader can serve `schema` as
    * ColumnarBatches (the conf gate + per-type support check parquet
    * scans use themselves).
    */
  def supportsBatch(spark: SparkSession, schema: StructType): Boolean =
    new parquet.ParquetFileFormat().supportBatch(spark, schema)

  /** Columnar parquet reader — the same `buildReaderWithPartitionValues`
    * closure as [[parquetRowReader]] with batch return enabled: the
    * iterator yields [[org.apache.spark.sql.vectorized.ColumnarBatch]]
    * (Spark's own file-scan RDD performs the identical erased cast).
    * Callers must gate on [[supportsBatch]].
    *
    * `filters` reach the parquet machinery itself (row-group and
    * column-index page skipping) — pass them ONLY when the caller
    * either re-applies every filter residually above the scan AND does
    * not rely on a running row count for positions (the reader fills
    * [[rowIndexColumnName]] with exact per-row indexes even under
    * skipping — the `_metadata.row_index` contract), or reads
    * position-free.
    */
  def parquetBatchReader(spark: SparkSession,
                         dataSchema: StructType,
                         requiredSchema: StructType,
                         filters: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : PartitionedFile => Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val fn = new parquet.ParquetFileFormat().buildReaderWithPartitionValues(
      sparkSession = spark,
      dataSchema = dataSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = requiredSchema,
      filters = filters,
      options = Map(FileFormat.OPTION_RETURNING_BATCH -> "true"),
      hadoopConf = spark.sessionState.newHadoopConf())
    f => fn(f).asInstanceOf[Iterator[
      org.apache.spark.sql.vectorized.ColumnarBatch]]
  }

  def partitionedFile(absPath: String, length: Long): PartitionedFile =
    partitionedFile(absPath, 0L, length, length)

  def partitionedFile(absPath: String, start: Long, length: Long,
                      fileSize: Long): PartitionedFile =
    PartitionedFile(
      partitionValues = InternalRow.empty,
      filePath = org.apache.spark.paths.SparkPath.fromPathString(absPath),
      start = start,
      length = length,
      locations = Array.empty,
      modificationTime = 0L,
      fileSize = fileSize)

  /** The magic required-schema column name the vectorized parquet
    * reader FILLS with each row's absolute index within its file —
    * stable under file splits and row-group boundaries, which is what
    * makes split-parallel position-delete application possible (the
    * same mechanism `_metadata.row_index` rides on).
    */
  def rowIndexColumnName: String =
    parquet.ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME

  /** Spark's own split-size policy (maxPartitionBytes / openCost /
    * parallelism), so a custom scan splits large files exactly like
    * the native one.
    */
  def maxSplitBytes(spark: SparkSession, fileLens: Seq[Long]): Long = {
    val open = spark.sessionState.conf.filesOpenCostInBytes
    FilePartition.maxSplitBytes(spark, fileLens.map(_ + open).sum)
  }

  /** Spark's own bin packing of file splits into tasks: splits sorted
    * largest first (as the native file scans hand them over), then
    * `FilePartition.getFilePartitions` — each bin takes splits while
    * their lengths plus `filesOpenCostInBytes` each fit `maxSplitBytes`.
    * `file` describes an item as the split Spark packs; each bin comes
    * back as the caller's items, in the order the bin reads them.
    */
  def packSplits[T](spark: SparkSession, items: Seq[T],
                    file: T => PartitionedFile,
                    maxSplitBytes: Long): Seq[Seq[T]] = {
    val byFile = new java.util.IdentityHashMap[PartitionedFile, T]()
    val files = items.map { t => val f = file(t); byFile.put(f, t); f }
      .sortBy(_.length)(Ordering[Long].reverse)
    FilePartition.getFilePartitions(spark, files, maxSplitBytes)
      .map(_.files.toSeq.map(byFile.get))
  }

  /** A DataFrame over a [[HadoopFsRelation]] of `format` (parquet by
    * default) on `index` — what `spark.read.schema(dataSchema)` builds
    * over the same files, minus the path listing: the index arrives with
    * its file statuses resolved. `_metadata.*` and `input_file_name()`
    * resolve as on any file scan.
    */
  def fileFrame(spark: SparkSession, index: FileIndex, dataSchema: StructType,
                format: FileFormat = new parquet.ParquetFileFormat(),
                options: Map[String, String] = Map.empty): org.apache.spark.sql.DataFrame = {
    val rel = HadoopFsRelation(index, StructType(Nil), dataSchema, None,
      format, options)(spark)
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      LogicalRelation(rel))
  }

  /** Executor-side parquet write support for the DSv2 `BatchWrite`:
    * `prepareWrite` wires the ParquetWriteSupport schema + committer
    * onto the job conf and returns the serializable factory whose
    * `newInstance` each `DataWriter` task calls. TxTable stagings
    * always write standard TIMESTAMP(MICROS) (INT96 footers carry no
    * min/max — `TxTable.stage` documents the same pin), applied here
    * on a CLONED SQLConf so no session state is mutated.
    */
  def parquetWriterFactory(spark: SparkSession, schema: StructType)
      : (OutputWriterFactory, org.apache.hadoop.conf.Configuration) = {
    val conf = spark.sessionState.conf.clone()
    conf.setConfString("spark.sql.parquet.outputTimestampType",
      "TIMESTAMP_MICROS")
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val factory = parquet.ParquetUtils.prepareWrite(
      conf, job, schema, new parquet.ParquetOptions(
        Map.empty[String, String], conf))
    (factory, job.getConfiguration)
  }

  def newOutputWriter(factory: OutputWriterFactory,
                      absPath: String, schema: StructType,
                      conf: org.apache.hadoop.conf.Configuration,
                      partitionId: Int, taskId: Long): OutputWriter = {
    val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
      "graft", 0, org.apache.hadoop.mapreduce.TaskType.MAP,
      partitionId, (taskId % Int.MaxValue).toInt)
    val ctx = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf, attempt)
    factory.newInstance(absPath, schema, ctx)
  }

  /** V2 `Predicate` → V1 `Filter`, Spark's own mapping (the
    * `SupportsDeleteV2` path hands V2 predicates; TxTable's
    * delete-candidate machinery speaks V1 filters + Columns).
    */
  def predicateToV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** The user-schema check V1 `DataSource.resolveRelation` applies to a
    * relation provider handed a declared schema: same types, nullability
    * compatible, else Spark's own mismatch `AnalysisException`.
    */
  def requireDeclaredSchema(declared: StructType, actual: StructType): Unit =
    if (!org.apache.spark.sql.types.DataType
        .equalsIgnoreCompatibleNullability(actual, declared))
      throw org.apache.spark.sql.errors.QueryCompilationErrors
        .userSpecifiedSchemaMismatchActualSchemaError(declared, actual)

}

/** A scan builder that tolerates the `metaCols` metadata columns by
  * COMPOSITION over Spark's [[v2.parquet.ParquetScanBuilder]]: column
  * pruning strips them before the parquet machinery (which would
  * demand a physical column of that name from every footer), every
  * other call delegates verbatim, and a build whose required schema
  * carries one switches to the caller's row-based scan factory.
  * All selection policy lives in the graft-side callback; this class
  * exists because the pushdown interface file sources speak
  * (`SupportsPushDownCatalystFilters`) is `private[sql]`.
  */
class GraftMetaAwareParquetScanBuilder(
    spark: SparkSession,
    index: PartitioningAwareFileIndex,
    dataSchema: StructType,
    options: CaseInsensitiveStringMap,
    metaCols: Set[String],
    fileColScan: (StructType, Array[org.apache.spark.sql.sources.Filter]) =>
      org.apache.spark.sql.connector.read.Scan,
    wrap: org.apache.spark.sql.connector.read.Scan =>
      org.apache.spark.sql.connector.read.Scan = identity)
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  // the builder PRUNES the metadata columns before the parquet delegate
  // and ROUTES reads requiring them to the row branch — a DATA column of
  // such a name would be silently replaced by synthesized provenance,
  // so reject it loudly here (policy check mirrored graft-side in
  // TxRowLevel.requireNotReserved; this is the last line of defense)
  require(!dataSchema.fieldNames.exists(metaCols),
    s"data schema carries a reserved metadata column name: " +
      dataSchema.fieldNames.filter(metaCols).mkString(", "))

  private val delegate = v2.parquet.ParquetScanBuilder(
    spark, index, dataSchema, dataSchema, options)
  private var requested: Option[StructType] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    delegate.pushFilters(filters)

  override def pushedFilters
      : Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit = {
    requested = Some(requiredSchema)
    delegate.pruneColumns(StructType(
      requiredSchema.filterNot(f => metaCols(f.name))))
  }

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = delegate.pushAggregation(aggregation)

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Boolean = delegate.supportCompletePushDown(aggregation)

  override def build(): org.apache.spark.sql.connector.read.Scan =
    requested match {
      case Some(rs) if rs.exists(f => metaCols(f.name)) =>
        fileColScan(rs, org.apache.spark.sql.internal.connector.PredicateUtils
          .toV1(delegate.pushedFilters))
      case _ => wrap(delegate.build())
    }
}

/** A [[PartitioningAwareFileIndex]] over ONE pinned txtable snapshot:
  * the statuses arrive pre-resolved from the commit log (O(commits)
  * metadata RPCs, [[graft.api.TxTable.liveFileStatuses]]), `listFiles` delegates
  * pruning to the caller's log-metadata closure, and there is no
  * partition discovery at all (a txtable clusters inside files; its
  * pruning index IS the log). `graft.api.Profile` uses it the same way
  * over the input files whose partials it must compute. Lives here
  * because the parent class is `private[sql]`; all policy stays in graft.
  */
class GraftTxParquetIndex(
    spark: SparkSession,
    root: Path,
    files: Seq[(String, FileStatus)],
    prune: Seq[Expression] => Set[String])
  extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {

  override def rootPaths: Seq[Path] = Seq(root)

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override def leafFiles
      : scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = new scala.collection.mutable.LinkedHashMap[Path, FileStatus]()
    files.foreach { case (_, st) => m += st.getPath -> st }
    m
  }

  override def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    files.map(_._2).groupBy(_.getPath.getParent)
      .map { case (dir, sts) => dir -> sts.toArray }

  override def refresh(): Unit = () // the snapshot is immutable

  override def sizeInBytes: Long = files.map(_._2.getLen).sum

  override def inputFiles: Array[String] =
    files.map(_._2.getPath.toString).toArray

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val keep = prune(dataFilters)
    Seq(PartitionDirectory(InternalRow.empty,
      files.collect { case (name, st) if keep(name) => st }.toArray))
  }
}
