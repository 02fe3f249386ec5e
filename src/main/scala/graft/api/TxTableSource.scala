package graft.api

import java.util

import org.apache.spark.sql.{SparkSession, SQLContext}
import org.apache.spark.sql.connector.catalog.{Table, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.GraftV2Bridge
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** [[TxTable]] as a REGISTERED Spark data source — the integration that
  * turns the commit-log table layer from a function API into a table
  * format a Spark user (or plain SQL) reads like any other:
  *
  * {{{
  *   spark.read.format("txtable").load(path)                    // head
  *   spark.read.format("txtable")
  *     .option("versionAsOf", 2).load(path)                     // time travel
  *   CREATE TABLE t USING txtable LOCATION '/data/events'       -- SQL DDL
  * }}}
  *
  * ONE connector: as a [[TableProvider]], every batch read — by format,
  * through a `USING txtable` session-catalog table, or a `CREATE
  * TEMPORARY VIEW … USING txtable` — resolves to the same
  * [[TxSnapshotTable]] read core the [[TxCatalog]]'s tables build on,
  * pinned at `versionAsOf`: Spark's native vectorized parquet scan over
  * the commit log's live files, log-metadata file pruning, parquet
  * row-group pushdown, and the columnar deletion-vector /
  * column-mapping scan where the snapshot needs it.
  *
  * The provided table ([[TxProvidedTable]]) declares only `BATCH_READ`,
  * `V1_BATCH_WRITE` and `TRUNCATE` (what SQL `INSERT OVERWRITE` plans
  * through). Spark falls back to a provider's V1 interfaces whenever
  * `BATCH_WRITE`, `MICRO_BATCH_READ` or `STREAMING_WRITE` is missing
  * (the Delta `DeltaTableV2` pattern), so `df.write`, `readStream` and
  * `writeStream` by format keep the V1 halves below:
  * [[CreatableRelationProvider]] (SaveModes → transactional verbs), the
  * change-feed [[TxTableStreamSource]] and the txn-tagged
  * [[TxTableSink]]. SQL `INSERT INTO` / `INSERT OVERWRITE` on a session
  * table plan as V2 appends/overwrites through [[TxV1WriteBuilder]] —
  * one commit each, never Spark's native file write.
  *
  * Correctness stance: file pruning is an optimization, never a
  * correctness filter — a file is dropped only when the log's metadata
  * PROVES no row can match, and the scan still evaluates the real
  * predicates on every row it reads.
  */
class TxTableSource extends TableProvider with CreatableRelationProvider
    with StreamSinkProvider with StreamSourceProvider with DataSourceRegister {

  override def shortName(): String = "txtable"

  /** Spark hands [[getTable]] the schema it already holds — a session
    * table's metastore schema, or the writing frame's on `df.write` —
    * instead of inferring one per statement.
    */
  override def supportsExternalMetadata(): Boolean = true

  /** Nothing to infer: the log IS the schema, and [[getTable]] reads it
    * from the pinned snapshot. An empty result declares nothing, so a
    * `CREATE TABLE … USING txtable LOCATION p` stores no schema copy
    * for the log to outgrow, and a format read folds the log once.
    */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    new StructType()

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    val path = Option(opts.get("path")).orElse(Option(opts.get("location")))
      .getOrElse(throw new IllegalArgumentException(
        "txtable needs a path: spark.read.format(\"txtable\").load(path)"))
    // TableProvider hands no session: Spark resolves the table while
    // analyzing the reading session's plan, with that session active
    val spark = SparkSession.active
    val pinned = Option(opts.get("versionAsOf"))
      .map(v => TxTable.requireVersion(spark, path, v.toLong))
    new TxProvidedTable(spark, path, pinned, schema)
  }

  /** The STREAMING source half:
    * `spark.readStream.format("txtable").load(path)` serves the
    * ROW-LEVEL CHANGE FEED ([[TxTable.changesRows]]) as micro-batches —
    * offsets ARE commit versions, so each batch is the exact change
    * rows of `(startVersion, endVersion]`, read from increment-sized
    * files (cdf stagings / append files), never the table. Schema =
    * table columns + `_change` + `_version`. With the txtable SINK
    * downstream this is a transactional streaming pipe between tables
    * (the pollChanges composition behind the standard APIs).
    * `option("startingVersion", v)` starts the feed after version v
    * (default 0 = the table's full history);
    * `option("maxVersionsPerTrigger", n)` bounds each micro-batch to n
    * commit-versions of new feed (admission control — a deep backlog
    * drains as bounded increments instead of one table-sized batch).
    */
  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "txtable streaming source derives its schema from the table " +
        "(columns + _change + _version); do not pass one")
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "txtable source needs a path: spark.readStream.format(\"txtable\").load(path)"))
    val spark = sqlContext.sparkSession
    val head = TxTable.latestVersion(spark, path)
    require(head > 0, s"txtable streaming source needs an existing table at $path")
    val st = TxTable.snapshotState(spark, path, head)
    val base = TxTable.stateSchema(spark, path, st)
    (shortName(), base
      .add(TxTable.ChangeCol, org.apache.spark.sql.types.StringType)
      .add(TxTable.VersionCol, org.apache.spark.sql.types.LongType))
  }

  override def createSource(sqlContext: SQLContext,
                            metadataPath: String,
                            schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val path = parameters("path")
    val starting = parameters.get("startingVersion").map(_.toLong).getOrElse(0L)
    val maxV = parameters.get("maxVersionsPerTrigger").map(_.toLong)
    maxV.foreach(m => require(m > 0,
      s"maxVersionsPerTrigger must be positive, got $m"))
    new TxTableStreamSource(sqlContext.sparkSession, path, starting,
      sourceSchema(sqlContext, None, providerName, parameters)._2,
      maxV)
  }

  /** The STREAMING sink half:
    * `stream.writeStream.format("txtable").option("appId", id).start(path)`.
    * Each micro-batch lands as one txn-tagged append (`appId:batchId`),
    * so checkpoint redelivery re-presents the same txn and lands
    * nothing twice — the exactly-once contract of
    * [[TxTable.streamAppend]] behind the standard sink API instead of
    * foreachBatch. Append output mode only (a transactional LOG of
    * appends has no in-place update/complete semantics).
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "txtable sink needs a path: .writeStream.format(\"txtable\").start(path)"))
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"txtable sink supports Append output mode only, got $outputMode")
    require(partitionColumns.isEmpty,
      "txtable sink does not partition by columns (cluster with " +
        "overwriteClustered / z-order instead)")
    // appId scopes txn idempotence — it MUST be distinct per query:
    // two queries sharing one appId produce colliding txn ids
    // ("app:0", "app:1", …) and the second query's batches are
    // silently dropped as redeliveries, idempotence doing exactly the
    // wrong thing. A shared constant default had that collision mode
    // built in (and a checkpoint set via the session-conf default
    // never appears in these parameters), so the absence of BOTH
    // options is a hard error, not a guess.
    val appId = parameters.get("appId")
      .orElse(parameters.get("checkpointLocation"))
      .getOrElse(throw new IllegalArgumentException(
        "txtable sink needs a txn scope: set .option(\"appId\", <id>) " +
          "(distinct per query) or pass checkpointLocation as a " +
          "writeStream OPTION — without one, txn ids collide across " +
          "queries and batches are silently dropped as redeliveries"))
    // option("clustered", "true"): land each micro-batch via
    // TxTable.appendClustered — laid out and indexed in the table's
    // declared clustering, so data skipping keeps working over a
    // long-running ingest instead of degrading with every stat-less
    // append until the next compaction
    val clustered = parameters.get("clustered").exists(_.toBoolean)
    new TxTableSink(sqlContext.sparkSession, path, appId, clustered)
  }

  /** The WRITE half: `df.write.format("txtable").mode(m).save(path)`.
    * SaveMode maps onto the transactional verbs —
    * Append → [[TxTable.append]] (or [[TxTable.evolveAppend]] with
    * `option("evolve", "true")`; `option("txn", id)` makes it
    * idempotent), Overwrite → [[TxTable.overwrite]],
    * ErrorIfExists/Ignore consult the log's head. Every mode lands ONE
    * atomic commit with the full concurrency story (optimistic claim
    * loop, snapshot isolation for readers).
    */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame): BaseRelation = {
    val path = parameters.getOrElse("path",
      throw new IllegalArgumentException(
        "txtable needs a path: df.write.format(\"txtable\").save(path)"))
    val spark = sqlContext.sparkSession
    val exists = TxTable.latestVersion(spark, path) > 0
    val txn = parameters.get("txn")
    val evolve = parameters.get("evolve").exists(_.toBoolean)
    import org.apache.spark.sql.SaveMode._
    mode match {
      case Append if !exists  => TxTable.overwrite(spark, path, data)
      case Append if evolve   => TxTable.evolveAppend(spark, path, data, txn)
      case Append             => TxTable.append(spark, path, data, txn)
      case Overwrite          => TxTable.overwrite(spark, path, data)
      case ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"txtable at $path already exists (SaveMode.ErrorIfExists)")
      case ErrorIfExists      => TxTable.overwrite(spark, path, data)
      case Ignore if exists   => () // documented no-op
      case Ignore             => TxTable.overwrite(spark, path, data)
    }
    // the V1 write contract returns a relation; the data is read back
    // through getTable, so this one only names the written schema
    val written = data.schema
    new BaseRelation {
      override def sqlContext: SQLContext = spark.sqlContext
      override def schema: StructType = written
    }
  }
}

/** The table behind `format("txtable")` reads and `USING txtable`
  * session-catalog tables: the [[TxSnapshotTable]] read core the
  * catalog's [[TxV2Table]] builds on, without the catalog-only DML
  * surface (no SQL DELETE/UPDATE/MERGE, no TRUNCATE TABLE — Spark
  * refuses both itself — and no `_file`/`_pos` metadata columns, so a
  * data column of either name reads as data). `declared` is the schema
  * Spark holds for it — empty for format reads, the metastore's for a
  * session table, the query's for a CTAS into a fresh `LOCATION` (and
  * the frame's on `df.write`, which only asks for capabilities and then
  * writes through V1):
  *
  *  - a path with no log yet serves `declared`, so a CTAS can plan its
  *    write, and the first write claims version 1;
  *  - a non-empty `declared` that differs from the log's schema fails
  *    analysis with Spark's user-schema mismatch error — the check V1
  *    `readDataSourceTable` applies — which is how an `ALTER TABLE … ADD
  *    COLUMNS` (it rewrites only the metastore, never the log) surfaces.
  *    The check runs when the schema is first read, not in `getTable`,
  *    so `DROP TABLE` (which loads the table) still works.
  */
private[api] class TxProvidedTable(spark: SparkSession, path: String,
                                   pinned: Option[Long], declared: StructType)
    extends TxSnapshotTable(spark, path, s"txtable.`$path`", pinned) {

  override lazy val schema: StructType =
    if (snapVersion == 0) {
      require(declared.nonEmpty, s"no txtable at $path")
      declared
    } else {
      val logged = TxMapping.stripMapping(mappedSchema)
      if (declared.nonEmpty) GraftV2Bridge.requireDeclaredSchema(declared, logged)
      logged
    }

  /** On a path with no log yet the first write defines the table: it
    * claims exactly version 1 ([[TxTable.createExactlyV1]], the
    * catalog's CTAS race discipline). A writer that loses that claim
    * lands on top of the winner as the statement asked — an append, or
    * an overwrite for `INSERT OVERWRITE` — so no rows are lost.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    if (snapVersion > 0) super.newWriteBuilder(info)
    else new WriteBuilder with SupportsTruncate {
      private var overwrite = false
      override def truncate(): WriteBuilder = { overwrite = true; this }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation = (data, _) =>
          if (!TxTable.createExactlyV1(spark, path, data)) {
            if (overwrite) TxTable.overwrite(spark, path, data)
            else TxTable.append(spark, path, data)
          }
      }
    }
}

/** A streaming offset that IS a commit version — the natural cursor of
  * a commit-log table (what Delta's streaming source does with
  * reservoir versions). JSON round-trip is the bare number.
  */
case class TxVersionOffset(version: Long)
    extends org.apache.spark.sql.execution.streaming.Offset {
  override def json: String = version.toString
}

/** The V1 streaming source over the row-level change feed: getOffset
  * reports the table's head version; getBatch materializes
  * [[TxTable.changesRows]] over the version window, pinned to this
  * batch's RDD and streaming-tagged (the FileStreamSource conversion,
  * via the package shim). Restart-safe: offsets re-arrive as
  * SerializedOffset, parsed by the bare-number JSON.
  */
class TxTableStreamSource(spark: SparkSession, path: String,
                          startingVersion: Long,
                          override val schema: StructType,
                          maxVersionsPerTrigger: Option[Long] = None)
    extends org.apache.spark.sql.execution.streaming.Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{
    Offset => OffsetV2, ReadLimit, ReadMaxRows}

  /** Rate limiting via ADMISSION CONTROL, the FileStreamSource pattern
    * for a V1 source: implementing [[SupportsAdmissionControl]] makes
    * the engine call `latestOffset(start, limit)` WITH the restored
    * committed offset instead of the argument-less `getOffset` — so
    * the cap is always computed from true progress (a getOffset-side
    * cap cannot see the checkpoint after a restart and could hand the
    * engine an offset BELOW it, regressing the offset log and
    * re-serving processed versions as duplicates).
    * `maxVersionsPerTrigger` bounds each micro-batch to that many
    * commit-VERSIONS of new feed (versions are the unit the feed is
    * sliced in — the Kafka maxOffsetsPerTrigger / Delta
    * maxFilesPerTrigger shape), declared to the engine as a
    * [[ReadMaxRows]] default limit. Under Trigger.AvailableNow,
    * [[prepareForTriggerAvailableNow]] pins the run's terminal head
    * ONCE, and the capped batches walk up to exactly it — a deep
    * backlog drains as bounded increments, then the query stops.
    */
  @volatile private var availableNowHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = Some(TxTable.latestVersion(spark, path))

  override def getDefaultReadLimit: ReadLimit =
    maxVersionsPerTrigger.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  private def v(o: OffsetV2): Long = o match {
    case TxVersionOffset(x) => x
    case other              => other.json.trim.toLong
  }

  override def initialOffset(): OffsetV2 = TxVersionOffset(startingVersion)

  override def deserializeOffset(json: String): OffsetV2 =
    TxVersionOffset(json.trim.toLong)

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val start = Option(startOffset).map(v).getOrElse(startingVersion)
    val head0 = TxTable.latestVersion(spark, path)
    val head = availableNowHead.fold(head0)(math.min(head0, _))
    val capped = limit match {
      case r: ReadMaxRows => math.min(head, start + r.maxRows())
      case _              => head
    }
    if (capped <= start) null else TxVersionOffset(capped)
  }

  /** The engine never calls this on an admission-control source —
    * [[latestOffset]] above is the offset path.
    */
  override def getOffset: Option[org.apache.spark.sql.execution.streaming.Offset] =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control path")

  override def getBatch(
      start: Option[org.apache.spark.sql.execution.streaming.Offset],
      end: org.apache.spark.sql.execution.streaming.Offset)
      : org.apache.spark.sql.DataFrame = {
    val from = start.map(o => v(o)).getOrElse(startingVersion)
    val rows = TxTable.changesRows(spark, path, from, v(end))
    org.apache.spark.sql.execution.datasources
      .GraftBatchMaterialize.asStreamingBatch(
        // column order must match the declared source schema exactly
        rows.select(schema.fieldNames.toIndexedSeq.map(n =>
          org.apache.spark.sql.functions.col(
            "`" + n.replace("`", "``") + "`")): _*))
  }

  override def stop(): Unit = ()

  override def toString: String = s"TxTableStreamSource[$path]"
}

/** The V1 streaming sink: one txn-tagged [[TxTable.append]] per
  * micro-batch. The batch frame is PINNED to this batch's RDD first
  * (the ForeachBatchSink materialization, via the package shim) so the
  * append's staging write can never lazily re-read source offsets.
  */
class TxTableSink(spark: SparkSession, path: String, appId: String,
                  clustered: Boolean = false)
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.DataFrame): Unit = {
    val pinned = org.apache.spark.sql.execution.datasources
      .GraftBatchMaterialize.pin(data)
    if (clustered)
      TxTable.appendClustered(spark, path, pinned,
        txn = Some(s"$appId:$batchId"))
    else
      TxTable.append(spark, path, pinned, txn = Some(s"$appId:$batchId"))
    ()
  }
  override def toString: String = s"TxTableSink[$path]"
}

object TxTableSource {
  /** Test observability: the relative file names the most recent
    * native scan FOR A GIVEN TABLE PATH kept after log pruning (the
    * spec pins pruning without reaching into the scan's internals).
    * Keyed by path — the native scan evaluates `listFiles` on a
    * planner thread, not the caller's, so a thread-local could never
    * observe it; per-path keying keeps concurrent queries on DIFFERENT
    * tables from clobbering each other (same-table races are a
    * test-only non-concern). Not a public API.
    */
  private[graft] val lastScanFilesByPath =
    new java.util.concurrent.ConcurrentHashMap[String, Seq[String]]()

  private[graft] def lastScanFiles(path: String): Seq[String] =
    Option(lastScanFilesByPath.get(path)).getOrElse(Nil)
}

/** The pushed-filter → log-constraint mapping, shared by the
  * [[TxSnapshotTable]] scans and the specs.
  */
object TxTableRelation {

  /** Log-metadata file pruning from Catalyst data filters — translate
    * through Spark's OWN source-filter translation (so the mapping
    * onto ranges/points can never disagree with what a V2 source
    * would see), weaken into the log's constraint shapes, keep files
    * whose recorded metadata can satisfy the conjunction.
    * Untranslatable predicates contribute no constraint —
    * conservative. ONE prune implementation for every [[TxSnapshotTable]]
    * scan.
    */
  private[graft] def keptFiles(
      state: TxTable.State,
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[String] = {
    val pushed = dataFilters.flatMap(
      org.apache.spark.sql.execution.datasources.GraftFilterTranslation.translate)
    val (ranges, points, strRanges) = constraints(pushed.toArray)
    TxTable.prunedFiles(state, ranges, points, strRanges)
  }

  /** Bloom probes hash RAW LONGS ([[TxTable.bloomStats]]'s contract),
    * so only genuinely integral filter values may become point
    * constraints; range constraints additionally accept date/timestamp
    * values via [[TxTable.statLong]]'s exact stat encoding.
    */
  private def asLong(v: Any): Option[Long] = v match {
    case l: Long              => Some(l)
    case i: Int               => Some(i.toLong)
    case s: Short             => Some(s.toLong)
    case b: Byte              => Some(b.toLong)
    case _                    => None
  }

  /** Map Catalyst's pushed conjunction onto the log metadata's
    * constraint shapes. Conservative by construction: anything not
    * recognized (Or, IsNull, casts…) contributes no constraint,
    * multiple bounds on one column intersect (the filters array is a
    * conjunction), and open bounds use the INCLUSIVE neighbor so a
    * file on the boundary is never dropped. Range bounds accept
    * integral AND date/timestamp values — `WHERE event_date >= X` over
    * a date-clustered table prunes from the log's epoch-day ranges
    * exactly like an id range does; string bounds intersect in the
    * unsigned byte order both Spark and parquet compare strings in.
    */
  private[graft] def constraints(filters: Array[Filter])
      : (Map[String, (Long, Long)], Map[String, Seq[Long]],
         Map[String, (Option[String], Option[String])]) = {
    var ranges = Map.empty[String, (Long, Long)]
    var points = Map.empty[String, Seq[Long]]
    var strRanges = Map.empty[String, (Option[String], Option[String])]
    def tighten(c: String, lo: Long, hi: Long): Unit = {
      val (l0, h0) = ranges.getOrElse(c, (Long.MinValue, Long.MaxValue))
      ranges += c -> (math.max(l0, lo), math.min(h0, hi))
    }
    def bcmp(a: String, b: String): Int =
      java.util.Arrays.compareUnsigned(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    def sTighten(c: String, lo: Option[String], hi: Option[String]): Unit = {
      val (l0, h0) = strRanges.getOrElse(c, (None, None))
      strRanges += c -> (
        (l0, lo) match {
          case (Some(a), Some(b)) => Some(if (bcmp(a, b) >= 0) a else b)
          case (a, b)             => a.orElse(b)
        },
        (h0, hi) match {
          case (Some(a), Some(b)) => Some(if (bcmp(a, b) <= 0) a else b)
          case (a, b)             => a.orElse(b)
        })
    }
    def stat(v: Any): Option[Long] = TxTable.statLong(v)
    // `LIKE 'p%'` arrives as StringStartsWith: every p-prefixed string
    // sits in [p, p-with-last-non-0xFF-byte-incremented] in unsigned
    // byte order (truncMax's exact construction). The incremented
    // bytes may not round-trip UTF-8 (our string ranges carry Strings);
    // if they don't, the upper bound is dropped — conservative.
    def prefixHi(p: String): Option[String] =
      TxTable.prefixUpper(p.getBytes("UTF-8")).flatMap { b =>
        val s = new String(b, "UTF-8")
        if (java.util.Arrays.equals(s.getBytes("UTF-8"), b)) Some(s) else None
      }
    def walk(f: Filter): Unit = f match {
      case And(l, r) => walk(l); walk(r)
      case EqualTo(c, v: String) => sTighten(c, Some(v), Some(v))
      case EqualNullSafe(c, v: String) if v != null =>
        sTighten(c, Some(v), Some(v))
      case EqualTo(c, v) =>
        stat(v).foreach(x => tighten(c, x, x))
        asLong(v).foreach(x =>
          points += c -> (points.getOrElse(c, Nil) :+ x).distinct)
      case EqualNullSafe(c, v) if v != null =>
        // <=> with a non-null literal prunes exactly like equality
        // (NULL rows can never satisfy it); bloom points stay EqualTo
        // only — the conservative direction costs nothing here
        stat(v).foreach(x => tighten(c, x, x))
      case StringStartsWith(c, p) if p.nonEmpty =>
        sTighten(c, Some(p), prefixHi(p))
      case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
        val ss = vs.toSeq.map(_.asInstanceOf[String])
        sTighten(c,
          Some(ss.reduce((a, b) => if (bcmp(a, b) <= 0) a else b)),
          Some(ss.reduce((a, b) => if (bcmp(a, b) >= 0) a else b)))
      case In(c, vs) =>
        val ls = vs.toSeq.flatMap(stat)
        if (ls.nonEmpty && ls.size == vs.length)
          tighten(c, ls.min, ls.max)
        val ps = vs.toSeq.flatMap(asLong)
        if (ps.nonEmpty && ps.size == vs.length)
          points += c -> (points.getOrElse(c, Nil) ++ ps).distinct
      case GreaterThan(c, v: String)        => sTighten(c, Some(v), None)
      case GreaterThanOrEqual(c, v: String) => sTighten(c, Some(v), None)
      case LessThan(c, v: String)           => sTighten(c, None, Some(v))
      case LessThanOrEqual(c, v: String)    => sTighten(c, None, Some(v))
      case GreaterThan(c, v)        => stat(v).foreach(x => tighten(c, x, Long.MaxValue))
      case GreaterThanOrEqual(c, v) => stat(v).foreach(x => tighten(c, x, Long.MaxValue))
      case LessThan(c, v)           => stat(v).foreach(x => tighten(c, Long.MinValue, x))
      case LessThanOrEqual(c, v)    => stat(v).foreach(x => tighten(c, Long.MinValue, x))
      case _ => () // unrecognized: contributes no pruning constraint
    }
    filters.foreach(walk)
    (ranges, points, strRanges)
  }
}
