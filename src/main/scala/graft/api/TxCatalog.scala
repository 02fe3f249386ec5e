package graft.api

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.{GraftTxParquetIndex, GraftV2Bridge}
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource-V2 [[TableCatalog]] over [[TxTable]] commit logs — the
  * SQL DDL/DML front door with warehouse-path identifiers:
  *
  * {{{
  *   spark.sql.catalog.gx           = graft.api.TxCatalog
  *   spark.sql.catalog.gx.warehouse = /data/warehouse
  *
  *   CREATE TABLE gx.db.events (id BIGINT, v STRING)
  *   INSERT INTO gx.db.events VALUES ...           -- one append commit
  *   INSERT OVERWRITE gx.db.events SELECT ...      -- one overwrite commit
  *   SELECT * FROM gx.db.events VERSION AS OF 3    -- log time travel
  *   DELETE FROM gx.db.events WHERE id < 10        -- file-level rewrite
  *   UPDATE / MERGE INTO                           -- group-based copy-on-write
  * }}}
  *
  * Identifiers map to warehouse paths (`gx.db.t` →
  * `<warehouse>/db/t`), namespaces are directories, and a table IS its
  * `_txlog` — no separate metastore state to drift. Every statement
  * re-resolves [[loadTable]], so SQL reads always see the current head;
  * each loaded table pins ONE snapshot for the statement — the same
  * per-relation isolation `spark.read` promises.
  *
  * `format("txtable")` reads and `USING txtable` session-catalog tables
  * resolve to the same [[TxSnapshotTable]] read core through
  * [[TxTableSource]] (the TableProvider); this catalog adds what only a
  * catalog can: warehouse identifiers, CREATE/REPLACE/ALTER/DROP,
  * namespaces, SQL DELETE/UPDATE/MERGE/TRUNCATE, `CALL` procedures and
  * `readStream`/`writeStream` by table name.
  *
  * Reference anchor: the reference's tables are named entries in a catalog JSON resolved to
  * parquet paths (catalog.py:18, tables.py:62) — here the resolution
  * is a Spark catalog plugin and the parquet paths are transactional.
  */
class TxCatalog extends TableCatalog with SupportsNamespaces
    with ProcedureCatalog with StagingTableCatalog {

  private var catName: String = _
  private var warehouse: String = _
  /** `spark.sql.catalog.<name>.dv_dml = true` routes SQL DELETE to
    * merge-on-read position deletes ([[TxTable.deleteWhereDv]] —
    * O(changed rows), no data file rewritten) instead of the
    * copy-on-write file-level delete; compact/compact_small purge the
    * accumulated deletes. UPDATE/MERGE stay copy-on-write either way
    * (Spark's group-based rewrite plan owns them); DV updates are the
    * `CALL <name>.system.update_dv` procedure.
    */
  private var dvDml: Boolean = false

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catName = name
    warehouse = Option(options.get("warehouse")).map(_.stripSuffix("/"))
      .getOrElse(throw new IllegalArgumentException(
        s"TxCatalog '$name' needs spark.sql.catalog.$name.warehouse=<dir>"))
    dvDml = Option(options.get("dv_dml")).exists(_.toBoolean)
  }

  override def name(): String = catName

  private def spark = SparkSession.active
  private def fs = Dedup.hadoopFs(spark, warehouse)

  /** Identifier parts become path segments — path-inert names only
    * (no separators, no `..` traversal, nothing the commit log's JSON
    * could not carry).
    */
  private def part(s: String): String = {
    // '.' is excluded on purpose (not just '..'): the procedure layer
    // resolves its `table` argument by splitting on '.' (resolveTableArg),
    // so a segment containing a dot would be addressable by every SQL
    // statement EXCEPT `CALL gx.system.*` — an identifier the catalog
    // accepts must stay addressable everywhere.
    require(s.matches("[A-Za-z0-9_][A-Za-z0-9_-]*"),
      s"TxCatalog identifiers must be path-inert and dot-free " +
        s"([A-Za-z0-9_][A-Za-z0-9_-]*): '$s'")
    s
  }

  private def pathOf(ident: Identifier): String =
    (warehouse +: ident.namespace.toSeq.map(part) :+ part(ident.name))
      .mkString("/")

  /** Existence probes and `IF EXISTS` statements must report
    * not-found for identifiers this catalog cannot represent (spaces,
    * separators) instead of crashing the no-op path.
    */
  private def pathIfInert(ident: Identifier): Option[String] =
    scala.util.Try(pathOf(ident)).toOption

  private def nsPath(ns: Seq[String]): String =
    (warehouse +: ns.map(part)).mkString("/")

  /** Split the declared properties into the map the COMMIT LOG
    * persists (COMMENT + user TBLPROPERTIES, round-tripped through
    * loadTable and time travel) and the Spark-injected/provider keys
    * it does not (owner, self-LOCATION, external, provider — all
    * recomputed at load). A foreign USING still rejects loudly.
    */
  private def persistableProps(
      properties: util.Map[String, String]): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    properties.asScala.flatMap {
      case (TableCatalog.PROP_OWNER, _) | (TableCatalog.PROP_LOCATION, _) |
           (TableCatalog.PROP_EXTERNAL, _) => None // Spark-injected
      case (TableCatalog.PROP_PROVIDER, prov) =>
        require(prov.equalsIgnoreCase("txtable"),
          s"TxCatalog creates txtable tables only; USING $prov is not " +
            "supported (write-path formats live outside this catalog)")
        None
      case (k, v) => validateGraftProp(k, v); Some(k -> v)
    }.toMap
  }

  /** `graft.*` properties CONFIGURE behavior (DV cap, maintenance
    * targets, DML route, retention) — validate the value at SET time
    * so a typo fails the DDL statement instead of poisoning a later
    * read/maintenance call; unknown graft.* keys reject loudly
    * (a misspelled knob that silently does nothing is worse).
    */
  private def validateGraftProp(k: String, v: String): Unit =
    if (k.startsWith("graft.")) k match {
      case TxMapping.RetiredProp =>
        throw new IllegalArgumentException(
          s"'${TxMapping.RetiredProp}' is maintained by DROP COLUMN " +
            "and cannot be set directly (it guards dropped columns " +
            "against resurrection)")
      case TxTable.DvDmlProp =>
        require(v == "true" || v == "false",
          s"$k must be true/false, got '$v'")
      case TxTable.DvMaxDriverBytesProp | TxTable.CompactMinFileBytesProp |
           TxTable.CompactTargetBytesProp =>
        require(scala.util.Try(v.toLong).toOption.exists(_ > 0),
          s"$k must be a positive long, got '$v'")
      case TxTable.KeepVersionsProp =>
        require(scala.util.Try(v.toInt).toOption.exists(_ >= 1),
          s"$k must be an int >= 1, got '$v'")
      case other =>
        throw new IllegalArgumentException(
          s"unknown graft.* table property '$other' — known: " +
            Seq(TxTable.DvDmlProp, TxTable.DvMaxDriverBytesProp,
              TxTable.CompactMinFileBytesProp,
              TxTable.CompactTargetBytesProp,
              TxTable.KeepVersionsProp).mkString(", "))
    }

  private def isTable(p: String): Boolean =
    fs.exists(new Path(s"$p/_txlog"))

  private def fullName(ident: Identifier): String =
    (catName +: ident.namespace.toSeq :+ ident.name).mkString(".")

  // ---- tables ----

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = nsPath(namespace.toSeq)
    // the ROOT namespace always exists (it IS the catalog); an
    // unpopulated warehouse dir just lists empty
    if (namespace.isEmpty && !fs.exists(new Path(dir)))
      return Array.empty
    if (!fs.exists(new Path(dir)))
      throw new NoSuchNamespaceException(catName +: namespace.toSeq)
    fs.listStatus(new Path(dir)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(n => isTable(s"$dir/$n"))
      .sorted.map(Identifier.of(namespace, _)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    pathIfInert(ident).exists(isTable)

  override def loadTable(ident: Identifier): Table = {
    val p = pathIfInert(ident).getOrElse(throw new NoSuchTableException(ident))
    if (!isTable(p)) throw new NoSuchTableException(ident)
    new TxV2Table(spark, p, fullName(ident), pinned = None, dvDml = dvDml)
  }

  /** SQL `VERSION AS OF v` — the commit log IS the version history. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val v = try version.toLong catch {
      case _: NumberFormatException => throw new IllegalArgumentException(
        s"txtable versions are commit numbers, got '$version'")
    }
    new TxV2Table(spark, p, fullName(ident),
      pinned = Some(TxTable.requireVersion(spark, p, v)), dvDml = dvDml)
  }

  /** SQL `TIMESTAMP AS OF t` — `timestamp` arrives in MICROseconds
    * (the [[TableCatalog]] contract); resolve to the last commit at or
    * before it, exactly [[TxTable.history]]'s recorded wall clocks.
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    val ms = timestamp / 1000L
    // O(log n) commit-record reads, not a full history parse — a
    // streaming-ingest table can hold thousands of commits
    val at = TxTable.versionAtOrBefore(spark, p, ms).getOrElse(
      throw new IllegalArgumentException(
        s"no commit at or before timestamp $ms ms in $p"))
    new TxV2Table(spark, p, fullName(ident), pinned = Some(at), dvDml = dvDml)
  }

  /** The shared CREATE/REPLACE validations (plain and staged forms):
    * no directory partitioning, no external LOCATION, no reserved
    * `_file` column, no properties the commit log cannot persist.
    */
  private def validateTableSpec(ident: Identifier, schema: StructType,
                                partitions: Array[Transform],
                                properties: util.Map[String, String]): Unit = {
    require(partitions.isEmpty,
      "txtable does not take PARTITIONED BY: cluster inside files with " +
        "overwriteClustered/appendClustered (log-metadata skipping " +
        "replaces directory partitioning)")
    // identifiers ARE locations in this catalog; an external LOCATION
    // would strand the table (every later resolution computes the
    // warehouse path and finds nothing) — reject instead of silently
    // accepting and losing it. The session catalog (`CREATE TABLE ...
    // USING txtable LOCATION p`) serves external paths.
    Option(properties.get(TableCatalog.PROP_LOCATION))
      .map(_.stripSuffix("/")).filter(_ != pathOf(ident)).foreach(loc =>
        throw new UnsupportedOperationException(
          s"TxCatalog tables live at <warehouse>/<ns>/<name>; an external " +
            s"LOCATION ('$loc') would be unreachable by later statements. " +
            "Use CREATE TABLE ... USING txtable LOCATION (the session " +
            "catalog) for external paths"))
    schema.fieldNames.foreach(TxRowLevel.requireNotReserved)
    // COMMENT / user TBLPROPERTIES persist in the commit log (the
    // propsB64 field); Spark-injected keys (owner, self-location,
    // external, provider) are recomputed at load and never stored. A
    // foreign USING still rejects loudly (validated inside).
    persistableProps(properties)
    ()
  }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    validateTableSpec(ident, schema, partitions, properties)
    val p = pathOf(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    // first commit defines the schema: one zero-row, schema-carrying
    // parquet file (stage's empty-frame discipline), so the new table
    // reads as EMPTY, never as unreadable. The claim of version 1 IS
    // the existence test — two racing CREATE/CTAS statements serialize
    // on the log, one wins, the other throws (a check-then-act probe
    // would let both report success and racing CTAS union their data).
    if (!TxTable.createExactlyV1(spark, p, spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        TxMapping.stripMapping(schema)),
        persistableProps(properties)))
      throw new TableAlreadyExistsException(ident)
    new TxV2Table(spark, p, fullName(ident), pinned = None, dvDml = dvDml)
  }

  // ---- atomic CTAS / REPLACE TABLE (StagingTableCatalog) ----
  //
  // Spark plans `CREATE TABLE AS SELECT`, `REPLACE TABLE [AS SELECT]`
  // and `CREATE OR REPLACE TABLE` through these when the catalog
  // stages: the query's output is written into INVISIBLE `data-*`
  // stagings first, and [[TxStagedTable.commitStagedChanges]] then
  // publishes everything in ONE log claim. A REPLACE whose query
  // throws mid-write therefore leaves the old table fully readable
  // WITH its history (the non-staged plan is drop-then-create — a
  // failure there destroys the old table's entire commit log), and a
  // successful REPLACE is itself one history-preserving overwrite
  // commit: `VERSION AS OF` below it still reads the old data. The
  // Delta/Iceberg StagingTableCatalog shape.

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable = {
    validateTableSpec(ident, schema, partitions, properties)
    val p = pathOf(ident)
    if (isTable(p)) throw new TableAlreadyExistsException(ident)
    new TxStagedTable(spark, p, ident, fullName(ident),
      TxMapping.stripMapping(schema),
      replaceExisting = false, orCreate = false,
      props = persistableProps(properties))
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    validateTableSpec(ident, schema, partitions, properties)
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    new TxStagedTable(spark, p, ident, fullName(ident),
      TxMapping.stripMapping(schema),
      replaceExisting = true, orCreate = false,
      props = persistableProps(properties))
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : StagedTable = {
    validateTableSpec(ident, schema, partitions, properties)
    new TxStagedTable(spark, pathOf(ident), ident, fullName(ident),
      TxMapping.stripMapping(schema),
      replaceExisting = true, orCreate = true,
      props = persistableProps(properties))
  }

  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val p = pathOf(ident)
    if (!isTable(p)) throw new NoSuchTableException(ident)
    // property changes batch into ONE data-less commit carrying the
    // full merged map (SET/UNSET TBLPROPERTIES, COMMENT ON TABLE)
    val propChanges = changes.collect {
      case s: TableChange.SetProperty => s
      case r: TableChange.RemoveProperty => r
    }
    if (propChanges.nonEmpty) {
      propChanges.foreach {
        case s: TableChange.SetProperty =>
          require(s.property != TableCatalog.PROP_LOCATION &&
              s.property != TableCatalog.PROP_PROVIDER,
            s"cannot alter reserved property '${s.property}'")
          validateGraftProp(s.property, s.value)
        case r: TableChange.RemoveProperty =>
          require(r.property != TxMapping.RetiredProp,
            s"'${TxMapping.RetiredProp}' is maintained by DROP COLUMN " +
              "and cannot be unset (it guards dropped columns against " +
              "resurrection)")
        case _ => ()
      }
      // the DELTA goes down, not a pre-merged map: setProperties folds
      // it over the head INSIDE its claim-retry loop, so a concurrent
      // commit's properties survive a lost version race (re-merging a
      // stale pre-read would silently overwrite them)
      TxTable.setProperties(spark, p, cur => propChanges.foldLeft(cur) {
        case (m, s: TableChange.SetProperty) => m + (s.property -> s.value)
        case (m, r: TableChange.RemoveProperty) => m - r.property
        case (m, _) => m
      })
    }
    changes.filterNot(c => c.isInstanceOf[TableChange.SetProperty] ||
        c.isInstanceOf[TableChange.RemoveProperty]).foreach {
      case add: TableChange.AddColumn =>
        require(add.fieldNames.length == 1,
          "txtable schema evolution is top-level additive only " +
            s"(got nested field ${add.fieldNames.mkString(".")})")
        // existing rows can only null-fill a new column, and the log
        // appends columns at the end — honoring NOT NULL or a position
        // silently is a lie, so reject both loudly (the same policy as
        // the unsupported-change arm below)
        require(add.isNullable,
          s"ADD COLUMN ${add.fieldNames.head} NOT NULL is unsupported: " +
            "existing rows null-fill a new column (additive evolution)")
        require(add.position() == null,
          s"ADD COLUMN ... FIRST/AFTER is unsupported: evolved columns " +
            "append at the end of the schema")
        TxTable.evolveAddColumn(spark, p, add.fieldNames.head, add.dataType)
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          "txtable column mapping is top-level only " +
            s"(got nested field ${rn.fieldNames.mkString(".")})")
        // metadata-only column mapping: the logical name moves, the
        // physical name (files + skipping metadata) never does
        TxTable.renameColumn(spark, p, rn.fieldNames.head, rn.newName)
      case del: TableChange.DeleteColumn =>
        require(del.fieldNames.length == 1,
          "txtable column mapping is top-level only " +
            s"(got nested field ${del.fieldNames.mkString(".")})")
        val present = TxTable.stateSchema(spark, p, TxTable.snapshotState(
          spark, p, TxTable.latestVersion(spark, p)))
          .fieldNames.contains(del.fieldNames.head)
        if (present || !del.ifExists())
          TxTable.dropColumn(spark, p, del.fieldNames.head)
      case other =>
        throw new UnsupportedOperationException(
          s"txtable supports ALTER TABLE ADD/RENAME/DROP COLUMN " +
            s"(additive evolution + column mapping); got $other")
    }
    new TxV2Table(spark, p, fullName(ident), pinned = None, dvDml = dvDml)
  }

  /** `DROP TABLE` deletes the table's directory INCLUDING `_txlog` —
    * the one verb (with DROP NAMESPACE CASCADE) that no time travel,
    * restore, or vacuum can undo: a txtable IS its directory, so
    * dropping it erases every version at once.
    */
  override def dropTable(ident: Identifier): Boolean =
    pathIfInert(ident).exists(p => isTable(p) && fs.delete(new Path(p), true))

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    // `ALTER TABLE gx.ns.a RENAME TO gx.ns.b` hands the new identifier
    // UNRESOLVED — the catalog name rides along as the first namespace
    // part (rename cannot cross catalogs, so Spark never strips it).
    // Without this normalization the table would silently move to
    // `<warehouse>/gx/ns/b`. Strip ONLY when the raw namespace does
    // not actually exist under the warehouse: a genuine namespace that
    // happens to share the catalog's name wins over the strip.
    val to = pathOf(
      if (newIdent.namespace.headOption.contains(catName) &&
          !fs.exists(new Path(nsPath(newIdent.namespace.toSeq))))
        Identifier.of(newIdent.namespace.drop(1), newIdent.name)
      else newIdent)
    val from = pathOf(oldIdent)
    if (!isTable(from)) throw new NoSuchTableException(oldIdent)
    if (isTable(to)) throw new TableAlreadyExistsException(newIdent)
    if (!fs.rename(new Path(from), new Path(to)))
      throw new IllegalStateException(s"rename $from -> $to failed")
  }

  // ---- maintenance procedures (CALL gx.system.<verb>) ----

  /** The `table` argument of every procedure is an identifier WITHIN
    * this catalog (`'t'` or `'ns.t'`), resolved through the same
    * path-inert mapping as table references.
    */
  private def resolveTableArg(name: String): String = {
    val parts = name.split('.')
    val p = pathOf(Identifier.of(parts.init, parts.last))
    require(isTable(p), s"no txtable at $catName.$name ($p)")
    p
  }

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(TxProcedures.Namespace),
      s"txtable procedures live under $catName.system " +
        s"(got ${fullName(ident)})")
    TxProcedures.load(ident.name, resolveTableArg)
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (!namespace.sameElements(TxProcedures.Namespace)) Array.empty
    else TxProcedures.names
      .map(Identifier.of(TxProcedures.Namespace, _)).toArray

  // ---- namespaces (directories under the warehouse) ----

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) Array.empty
    else fs.listStatus(root).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(n => isTable(s"$warehouse/$n"))
      .sorted.map(Array(_)).toArray
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    if (namespace.isEmpty) return listNamespaces()
    val dir = nsPath(namespace.toSeq)
    // a TABLE dir is not a namespace: listing "into" one would leak
    // _txlog/data-* internals as navigable namespaces (and invite a
    // DROP NAMESPACE CASCADE on live data)
    if (!fs.exists(new Path(dir)) || isTable(dir))
      throw new NoSuchNamespaceException(catName +: namespace.toSeq)
    fs.listStatus(new Path(dir)).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(n => isTable(s"$dir/$n"))
      .sorted.map(n => namespace :+ n).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String])
      : util.Map[String, String] = {
    if (namespace.nonEmpty && (
        !fs.exists(new Path(nsPath(namespace.toSeq))) ||
        isTable(nsPath(namespace.toSeq))))
      throw new NoSuchNamespaceException(catName +: namespace.toSeq)
    Map("location" -> nsPath(namespace.toSeq)).asJava
  }

  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    fs.mkdirs(new Path(nsPath(namespace.toSeq)))
    ()
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "txtable namespaces are directories; they carry no mutable metadata")

  /** `DROP NAMESPACE ... CASCADE` recursively deletes every contained
    * table's bytes AND commit logs immediately — like [[dropTable]],
    * this is unrecoverable by design (no trash, no restore).
    */
  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    require(!isTable(nsPath(namespace.toSeq)),
      s"${namespace.mkString(".")} is a TABLE, not a namespace " +
        "(DROP TABLE is the way to remove it)")
    val dir = new Path(nsPath(namespace.toSeq))
    if (!fs.exists(dir)) false
    else {
      if (!cascade)
        require(fs.listStatus(dir).isEmpty,
          s"namespace ${namespace.mkString(".")} is not empty " +
            "(DROP ... CASCADE to remove its tables)")
      fs.delete(dir, true)
    }
  }
}

/** One txtable snapshot as a DSv2 [[Table]] — the batch-read core every
  * route shares: `format("txtable")` reads and `USING txtable` session
  * tables ([[TxProvidedTable]]) use it as is, and the catalog's
  * [[TxV2Table]] adds the row-level DML surface on top. Reads plan
  * through Spark's OWN `ParquetScanBuilder` over a commit-log-backed
  * file index ([[GraftTxParquetIndex]]): native vectorized scan,
  * log-metadata file pruning, parquet row-group pushdown. Writes route
  * through the transactional verbs as a [[V1Write]] (`INSERT INTO` →
  * one [[TxTable.append]] commit, `INSERT OVERWRITE` → one
  * [[TxTable.overwrite]] commit), which keeps SQL DML off Spark's
  * destructive native file-write path.
  */
class TxSnapshotTable(spark: SparkSession, val path: String, ident: String,
                      pinned: Option[Long])
    extends Table with SupportsRead with SupportsWrite {

  private[api] lazy val snapVersion: Long =
    pinned.getOrElse(TxTable.latestVersion(spark, path))
  private[api] lazy val state: TxTable.State =
    TxTable.snapshotState(spark, path, snapVersion)
  private[api] lazy val fileStatuses
      : Map[String, org.apache.hadoop.fs.FileStatus] =
    TxTable.liveFileStatuses(spark, path, state.files)
  /** Per-file sorted position deletes of this snapshot (merge-on-read
    * DVs) — the row-based scan's per-partition filter sets; empty for
    * DV-free tables, which keep the native columnar plan. */
  private[api] lazy val dvPositions: Map[String, Array[Long]] =
    TxTable.delPositions(spark, path, state)
  private[graft] def session: SparkSession = spark

  override def name(): String = ident

  // user-facing: logical names only, mapping metadata stripped — the
  // map is an implementation detail of the log; leaking it here would
  // let CTAS-from-this-table inherit stale physical names through
  // Spark's alias metadata propagation
  override lazy val schema: StructType =
    TxMapping.stripMapping(TxTable.stateSchema(spark, path, state))

  /** The snapshot's logical schema WITH its column-mapping metadata —
    * what scans and writers translate through. */
  private[api] lazy val mappedSchema: StructType =
    TxTable.stateSchema(spark, path, state)

  /** Batch reads, plus the V1 write `INSERT INTO` plans through and the
    * truncate `INSERT OVERWRITE` needs — nothing Spark could route
    * around the provider's V1 write, change-feed source and txn sink. */
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def properties(): util.Map[String, String] =
    // stored first: COMMENT + user TBLPROPERTIES round-trip from the
    // commit log (per snapshot — time travel reads them as-of); the
    // computed keys then overwrite any collision
    (state.props ++ Map(
      TableCatalog.PROP_PROVIDER -> "txtable",
      TableCatalog.PROP_LOCATION -> path,
      "version" -> snapVersion.toString,
      // merge-on-read observability: >0 means reads apply position
      // deletes; CALL gx.system.compact_small purges
      "position_delete_files" -> state.dels.size.toString)).asJava

  /** Column names the scans SYNTHESIZE per row instead of reading from
    * the files — the catalog table's `_file`/`_pos` metadata columns.
    * None here: a data column of either name reads as data. */
  private[api] def provenanceCols: Set[String] = Set.empty

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // a DV-bearing snapshot cannot use the native columnar parquet
    // scan (nothing there can drop (file, position) rows), and a
    // column-MAPPED snapshot cannot either (the native builder reads
    // files by logical names; a renamed column would silently
    // null-fill): both route through the TxFileScan builder, which
    // keeps vectorized batches + parquet row-group pushdown (filters
    // and read schema translated to physical names). DV-free unmapped
    // tables — the steady state; compact/optimize purge both — keep
    // the native plan.
    if (state.dels.nonEmpty || TxTable.isMapped(state))
      return new TxDvScanBuilder(spark, this, options)
    val index = new GraftTxParquetIndex(spark, new Path(path),
      state.files.map(f => f -> fileStatuses(f)),
      dataFilters => {
        val kept = TxTableRelation.keptFiles(state, dataFilters)
        TxTableSource.lastScanFilesByPath.put(path, kept)
        kept.toSet
      })
    GraftV2Bridge.parquetScanBuilder(spark, index, schema, options,
      provenanceCols,
      // a required schema carrying `_file` (runtime group filtering's
      // matching-rows subquery) switches to the row-based file scan,
      // file-pruned by the same log constraints
      (rs, pushed) => {
        val (ranges, points, strRanges) = TxTableRelation.constraints(pushed)
        new TxFileScan(spark, this,
          TxTable.prunedFiles(state, ranges, points, strRanges), rs)
      },
      // batch scans pass through untouched in behavior; the wrapper
      // only ADDS toMicroBatchStream so readStream.table(...) works
      ps => new TxStreamCapableScan(spark, this, ps, options))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(pinned.isEmpty,
      s"cannot write to a time-travel snapshot of $path " +
        s"(VERSION/TIMESTAMP AS OF pins version $snapVersion; " +
        "writes target the head)")
    new TxV1WriteBuilder(spark, path, info)
  }

  override def toString: String = s"${getClass.getSimpleName}($ident@v$snapVersion)"
}

/** A [[TxCatalog]] table: the [[TxSnapshotTable]] read core plus the
  * catalog-only surface — streaming by table name, SQL `DELETE` /
  * `UPDATE` / `MERGE` (copy-on-write or merge-on-read), `TRUNCATE`,
  * and the `_file`/`_pos` metadata columns those rewrites key on.
  */
class TxV2Table(spark: SparkSession, path: String, ident: String,
                pinned: Option[Long], dvDml: Boolean = false)
    extends TxSnapshotTable(spark, path, ident, pinned)
    with SupportsDeleteV2 with SupportsMetadataColumns
    with SupportsRowLevelOperations {

  /** The effective row-level DML route: the TABLE's persisted
    * `graft.dv_dml` property wins over the catalog-level `dv_dml`
    * option, so the merge-on-read/copy-on-write choice travels with
    * the table (ALTER TABLE SET TBLPROPERTIES flips it, no session
    * conf needed) — the Delta property model.
    */
  private lazy val dvDmlEffective: Boolean =
    state.props.get(TxTable.DvDmlProp).map(_.toBoolean).getOrElse(dvDml)

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.STREAMING_WRITE,
      TableCapability.MICRO_BATCH_READ,
      // `MERGE WITH SCHEMA EVOLUTION`: Spark derives the missing
      // source columns and routes them through alterTable(AddColumn) —
      // exactly the additive data-less widening evolveAddColumn
      // already commits; non-additive changes (type widening) keep
      // rejecting loudly through the same alterTable policy
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)

  /** `_file` is the row-level rewrite's GROUP COLUMN (runtime group
    * filtering resolves it against this declaration) and doubles as
    * queryable per-row file provenance: `SELECT _file FROM gx.t`
    * routes through the composed scan builder's row-based branch
    * (file pruning intact), while `_file`-free scans stay native
    * columnar parquet and `SELECT *` never includes it.
    */
  override def metadataColumns(): Array[MetadataColumn] =
    Array(
      new MetadataColumn {
        override def name(): String = TxRowLevel.FileCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.StringType
        override def isNullable: Boolean = false
      },
      // the parquet row index within _file — non-nullable by contract
      // (a nullable rowId attribute is rejected by Spark's delta
      // row-level analysis)
      new MetadataColumn {
        override def name(): String = TxRowLevel.PosCol
        override def dataType(): org.apache.spark.sql.types.DataType =
          org.apache.spark.sql.types.LongType
        override def isNullable: Boolean = false
      })

  override private[api] def provenanceCols: Set[String] =
    Set(TxRowLevel.FileCol, TxRowLevel.PosCol)

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = {
    // defense-in-depth against tables created OUTSIDE validateTableSpec
    // (`format("txtable")`, `USING txtable LOCATION`, programmatic stage): a
    // data column named '_file'/'_pos' would be silently pruned by the
    // composed builder and shadowed by synthesized provenance — fail
    // loudly at scan construction instead
    schema.fieldNames.foreach(TxRowLevel.requireNotReserved)
    super.newScanBuilder(options)
  }

  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    require(pinned.isEmpty,
      s"cannot $info on a time-travel snapshot of $path")
    // dv_dml routes row-level SQL (UPDATE / MERGE INTO / unparseable
    // DELETE) through the DELTA operation — ONE merge-on-read `dv`
    // commit of position deletes + row images, O(changed rows) bytes —
    // instead of the group-based copy-on-write rewrite (O(matched
    // files)). Default stays copy-on-write.
    () => if (dvDmlEffective)
            new TxDeltaRowLevelOperation(spark, this, info.command)
          else new TxRowLevelOperation(spark, this, info.command)
  }

  // ---- SQL DELETE FROM: the file-level transactional delete ----

  /** Accept exactly the predicates we can round-trip into a Column —
    * [[TxTable.deleteWhere]] then derives FILE-LEVEL candidates from
    * the same log metadata the read path prunes with (untouched files
    * carry by reference) and keeps SQL NULL semantics (predicate-NULL
    * rows are KEPT). A condition that cannot round-trip reports
    * `false` and Spark falls back to the row-level rewrite path.
    */
  override def canDeleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    pinned.isEmpty && predicates.forall(p =>
      GraftV2Bridge.predicateToV1(p).exists(f =>
        TxFilters.toColumn(f).isDefined))

  override def deleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val cond = predicates.toSeq
      .map(p => TxFilters.toColumn(GraftV2Bridge.predicateToV1(p).get).get)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    // dv_dml = true routes SQL DELETE to merge-on-read position
    // deletes (O(changed rows), no file rewritten); default stays the
    // copy-on-write file-level delete
    if (dvDmlEffective) TxTable.deleteWhereDv(spark, path, cond)
    else TxTable.deleteWhere(spark, path, cond)
    ()
  }

  /** SQL `TRUNCATE TABLE`: one overwrite commit to an empty,
    * schema-carrying state — history below it stays time-travelable
    * (truncate is a version, not an erasure).
    */
  override def truncateTable(): Boolean = {
    // same defense as newWriteBuilder/deleteWhere/newRowLevelOperationBuilder:
    // a TRUNCATE that somehow reached a time-travel snapshot would
    // commit against the HEAD while reporting the pinned schema
    require(pinned.isEmpty,
      s"cannot TRUNCATE a time-travel snapshot of $ident (VERSION AS OF " +
        s"${pinned.get}); truncate the live table instead")
    TxTable.overwrite(spark, path, spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
    true
  }
}

object TxRowLevel {
  /** The group column of the copy-on-write rewrite: one group = one
    * immutable data file, identified by its absolute path string.
    */
  val FileCol = "_file"
  /** Per-row parquet position within `_file` — with it, (`_file`,
    * `_pos`) is a durable row id (files are immutable): the delta
    * (merge-on-read) row-level operation's rowId, and queryable
    * provenance like `_file`.
    */
  val PosCol = "_pos"

  /** Reject a DATA column whose name collides with the reserved
    * surface — applied at CREATE/REPLACE ([[TxCatalog]]'s
    * validateTableSpec), at every additive evolution
    * ([[TxTable.evolveAddColumn]], which `ALTER TABLE ADD COLUMN` and
    * `MERGE WITH SCHEMA EVOLUTION` both drive), and defensively at
    * scan construction (the bridge builder). Without it: Spark's
    * metadata-column rule lets a data `_file`/`_pos` SHADOW the
    * metadata column, but the composed scan builder routes any
    * `_pos`-requiring read through the row branch and prunes the real
    * column — `SELECT _pos` would silently return synthesized row
    * indexes instead of the user's data, and under `dv_dml` the delta
    * rowId binding would corrupt.
    */
  def requireNotReserved(col: String): Unit = {
    require(col != FileCol,
      s"'$FileCol' is a reserved metadata column (per-row file " +
        "provenance); a data column of that name would be shadowed " +
        "by the physical file path on every read")
    require(col != PosCol,
      s"'$PosCol' is a reserved metadata column (per-row parquet " +
        "position, the row-level rowId); a data column of that name " +
        "would be shadowed by synthesized row indexes on every read")
    // __graft_-prefixed names are internal plumbing (DV provenance
    // columns among them); a user column of that shape would be
    // silently replaced by withColumn on the DV read path, corrupting
    // DV DML and dropping the column from update images / CDF.
    require(!col.startsWith("__graft_"),
      s"'$col' uses the reserved internal prefix '__graft_'; rename " +
        "the column (internal provenance columns of that shape attach " +
        "during merge-on-read scans and would shadow it)")
  }
}

/** GROUP-BASED (copy-on-write) row-level operation — what Spark's
  * `RewriteDeleteFromTable` / `RewriteUpdateTable` /
  * `RewriteMergeIntoTable` drive for SQL DML that cannot be served by
  * metadata alone (the Iceberg copy-on-write shape):
  *
  *  1. [[newScanBuilder]] — reads the files that can hold affected
  *     rows. Pushed filters prune at FILE granularity only (a touched
  *     file must be read WHOLE: its unaffected rows are rewritten
  *     too), through the same log-metadata constraints as the read
  *     path; Spark's runtime group filtering then narrows to the files
  *     that ACTUALLY hold matches via an `_file IN (...)` probe
  *     ([[TxFileScan.filter]]) — the exact-touched-files step, done by
  *     the engine instead of a connector-side semi-join.
  *  2. [[newWriteBuilder]] — executor-side parquet writers restage the
  *     scanned files' surviving/updated rows (plus MERGE inserts).
  *  3. Commit — [[TxTable.commitReplace]]: remove exactly the scanned
  *     files, add the restaged ones, carry every other live file by
  *     reference with its metadata, fresh footer stats/blooms for the
  *     new files at the head's flavor. WriteSerializable concurrency.
  */
class TxRowLevelOperation(
    spark: SparkSession, table: TxV2Table,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.RowLevelOperation {

  /** Scans this operation built — the LAST runtime-filtered one (the
    * main rewrite scan) defines the removed-file set; absent any
    * runtime filter call, every scan holds the same static candidate
    * set, so any of them does.
    */
  private val scans =
    new java.util.concurrent.CopyOnWriteArrayList[TxFileScan]()
  private[api] def registerScan(s: TxFileScan): Unit = { scans.add(s); () }
  private[api] def scannedFiles: Seq[String] = {
    val all = scans.asScala.toSeq
    require(all.nonEmpty, s"$this built no scan before its write committed")
    all.findLast(_.runtimeFiltered).getOrElse(all.head).relFiles
  }

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new TxRowLevelScanBuilder(spark, table, registerScan)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new TxReplaceWrite(spark, table, TxRowLevelOperation.this, info.schema)
    }

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(TxRowLevel.FileCol))

  override def description(): String = s"TxRowLevelOperation($cmd)"
  override def toString: String = description()
}

/** Scan builder for the rewrite's read: V1 filter pushdown that prunes
  * FILES ONLY (everything reports back as residual — Spark keeps
  * row-level re-application, the file-granularity contract of a
  * copy-on-write scan), column pruning passed through, `_file`
  * produced per partition.
  */
class TxRowLevelScanBuilder(spark: SparkSession, table: TxV2Table,
                            register: TxFileScan => Unit)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var fileFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var required: StructType = table.schema

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    fileFilters = filters
    filters // ALL residual: pruning here is per-file, never per-row
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    val (ranges, points, strRanges) =
      TxTableRelation.constraints(fileFilters)
    val candidates =
      TxTable.prunedFiles(table.state, ranges, points, strRanges)
    // DV-applied: the copy-on-write rewrite must not resurrect rows a
    // position-delete commit already removed from carried files
    val scan = new TxFileScan(spark, table, candidates, required,
      table.dvPositions)
    register(scan)
    scan
  }
}

/** A candidate file of a [[TxFileScan]] — scan-side BOOKKEEPING (the
  * runtime group filter and the rewrite's removed-file set operate at
  * file granularity); the planned partition unit is [[TxSplitBin]].
  */
case class TxFilePartition(rel: String, abs: String, len: Long,
                           dvPos: Array[Long] = Array.empty)

/** One SPLIT of a data file — the read unit of BOTH scan branches
  * (positions anchor per split from the parquet footer, so a large
  * file parallelizes exactly like the native scan instead of pinning
  * one task per file — on the rewrite path too, where a 1 GB file
  * would otherwise serialize its UPDATE through a single task).
  */
case class TxFileSplit(abs: String, start: Long, length: Long,
                       fileSize: Long, dvPos: Array[Long]) {
  private[api] def file =
    GraftV2Bridge.partitionedFile(abs, start, length, fileSize)
}

/** The partition unit of every tx file scan: the splits one task reads,
  * in order, each opened only when the one before it is drained.
  */
case class TxSplitBin(splits: Seq[TxFileSplit])
    extends org.apache.spark.sql.connector.read.InputPartition

/** The scan builder a DV-bearing snapshot reads through: the same
  * file scan as the row-level rewrite path — log-metadata file pruning
  * from pushed filters (all residual: Spark re-applies rows), column
  * pruning, per-partition position-delete filtering — plus the
  * micro-batch wrapper so `readStream.table` keeps working.
  *
  * Pushed filters ALSO reach the parquet reader itself on the columnar
  * branch (row-group + column-index page skipping): deletion-vector
  * application there keys on the vectorized reader's row-index column
  * — exact per-row parquet indexes even under skipping, the
  * `_metadata.row_index` mechanism — so a selective point read on a
  * DV-bearing snapshot prunes inside files exactly like a DV-free one
  * instead of paying whole-file scans until maintenance purges. The
  * ROW branch (`_file`/`_pos` rewrite scans, non-batchable schemas)
  * keeps whole-file reads: its positions come from a running count a
  * skipped row group would desynchronize.
  */
class TxDvScanBuilder(spark: SparkSession, table: TxSnapshotTable,
                      options: CaseInsensitiveStringMap)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  private var fileFilters: Array[org.apache.spark.sql.sources.Filter] =
    Array.empty
  private var required: StructType = table.schema

  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter])
      : Array[org.apache.spark.sql.sources.Filter] = {
    fileFilters = filters
    filters // all residual: pruning is per-file only
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    val (ranges, points, strRanges) =
      TxTableRelation.constraints(fileFilters)
    val candidates =
      TxTable.prunedFiles(table.state, ranges, points, strRanges)
    new TxStreamCapableScan(spark, table,
      new TxFileScan(spark, table, candidates, required,
        table.dvPositions, pushed = fileFilters), options)
  }
}

/** Scan over an explicit snapshot file subset. Two branches:
  *
  *  - COLUMNAR (data-only reads the vectorized reader can batch):
  *    Spark's native parquet decode with `pushed` filters applied
  *    INSIDE parquet (row-group + page skipping — every filter is
  *    also residual above, so this is pure pruning). DV-bearing
  *    splits additionally request the reader's row-index column and
  *    key position-delete application on it ([[TxDvColumnar]]), so
  *    skipping can never desynchronize positions.
  *  - ROW (scans producing `_file`/`_pos` — the rewrite's group
  *    column and the delta rowId — and non-batchable schemas): whole
  *    splits, positions from a footer-anchored running count, no
  *    parquet row filtering (the rewrite must carry unaffected rows;
  *    a skipped row group would desynchronize the count).
  */
class TxFileScan(spark: SparkSession, table: TxSnapshotTable,
                 candidates: Seq[String], required: StructType,
                 dels: Map[String, Array[Long]] = Map.empty,
                 pushed: Array[org.apache.spark.sql.sources.Filter] =
                   Array.empty)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.Batch
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Candidate bytes/rows from the already-resolved statuses — without
    * this the engine assumes a WORST-CASE size for the scan and a join
    * against a small DV-bearing snapshot can never plan a broadcast.
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = {
    val bytes = files.map(_.len).sum
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(bytes)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  @volatile private var files: Seq[TxFilePartition] = candidates.map { rel =>
    val st = table.fileStatuses(rel)
    // each partition carries ITS file's sorted position deletes — the
    // reader drops them with an ordered pointer walk (merge-on-read)
    TxFilePartition(rel, st.getPath.toString, st.getLen,
      dels.getOrElse(rel, Array.empty))
  }
  @volatile private[api] var runtimeFiltered = false

  private[api] def relFiles: Seq[String] = files.map(_.rel)

  // `_file`/`_pos` are synthesized only where the table declares them
  // as metadata columns; elsewhere a column of that name is data
  private val meta = table.provenanceCols
  private val dataRead = StructType(required.filterNot(f => meta(f.name)))
  private def needsFile =
    meta(TxRowLevel.FileCol) && required.exists(_.name == TxRowLevel.FileCol)
  private def needsPos =
    meta(TxRowLevel.PosCol) && required.exists(_.name == TxRowLevel.PosCol)

  override def readSchema(): StructType = required

  override def toBatch: org.apache.spark.sql.connector.read.Batch = this

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    if (!meta(TxRowLevel.FileCol)) Array.empty
    else Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(TxRowLevel.FileCol))

  /** Runtime group filtering: the engine hands `_file IN (paths that
    * hold matched rows)`; keep exactly those files. Unparseable
    * predicates narrow nothing — conservative, the rewrite then
    * touches the static candidate set.
    */
  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val sets = predicates.toSeq.flatMap { p =>
      val kids = p.children()
      val onFile = kids.headOption.exists {
        case r: org.apache.spark.sql.connector.expressions.NamedReference =>
          r.fieldNames.sameElements(Array(TxRowLevel.FileCol))
        case _ => false
      }
      if (!onFile || (p.name() != "IN" && p.name() != "=")) None
      else Some(kids.drop(1).toSeq.collect {
        case l: org.apache.spark.sql.connector.expressions.Literal[_]
            if l.value != null => l.value.toString
      }.toSet)
    }
    sets.foreach { keep =>
      files = files.filter(f => keep.contains(f.abs))
      runtimeFiltered = true
    }
  }

  /** COLUMNAR (vectorized-batch) mode for every data-only scan the
    * batch reader + DV compaction can serve: DV-free splits pass
    * batches through untouched, del-bearing splits compact only the
    * batches that actually contain deleted rows ([[TxDvColumnar]],
    * keyed on the reader-synthesized row-index column) — a DV-bearing
    * snapshot keeps the native vectorized decode AND native file
    * splitting instead of paying a whole-scan row penalty. The row
    * branch remains for `_file`/`_pos`-producing rewrite scans and
    * non-batchable schemas. The answer is scan-wide, satisfying
    * Spark's no-mixed-modes rule — and FROZEN at scan construction
    * (a val over the INITIAL candidate set, a superset of anything
    * runtime filtering keeps), so planInputPartitions and the reader
    * factory can never disagree about the partition class.
    */
  private val columnarMode: Boolean =
    !needsFile && !needsPos &&
      GraftV2Bridge.supportsBatch(spark, dataRead) &&
      (files.forall(_.dvPos.isEmpty) ||
        dataRead.forall(f => TxDvColumnar.copyable(f.dataType)))

  override def planInputPartitions()
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    // BOTH branches split large files at Spark's own policy —
    // positions stay exact because each partial split anchors its
    // first row index from the parquet footer (the reader's own
    // midpoint row-group selection rule)
    val split = GraftV2Bridge.maxSplitBytes(spark, files.map(_.len))
    GraftV2Bridge.packSplits(spark, files.flatMap { f =>
      (0L until f.len by split).map(off =>
        TxFileSplit(f.abs, off, math.min(split, f.len - off), f.len,
          f.dvPos))
    }, (s: TxFileSplit) => s.file, split).map(TxSplitBin(_)).toArray
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    // column mapping: the FILES carry physical names — readers get the
    // physical twins of the table schema, the pruned read schema and
    // the pushed filters; the reader output is positional, so the
    // factory's bookkeeping (and the scan's readSchema) stay logical.
    // Identity maps for unmapped tables.
    val physMap = TxMapping.toPhysicalMap(table.mappedSchema)
    val physState = TxMapping.toPhysicalSchema(table.mappedSchema)
    val physRead = TxMapping.renameSchema(dataRead, physMap)
    val physPushed =
      if (!TxMapping.isMapped(table.mappedSchema)) pushed.toSeq
      else pushed.toSeq.flatMap(TxMapping.filterToPhysical(_, physMap))
    val readerFn = GraftV2Bridge.parquetRowReader(spark, physState, physRead)
    // pushed filters reach parquet (row-group/page skipping) on the
    // columnar branch only — every filter is residual above the scan,
    // so skipping is pure pruning; DV-bearing splits read through the
    // row-index-keyed reader below, never the running count
    val batchFn =
      if (columnarMode)
        Some(GraftV2Bridge.parquetBatchReader(spark, physState, physRead,
          physPushed))
      else None
    // DV-bearing splits request the vectorized reader's row-index
    // column appended after the data columns: exact per-row parquet
    // indexes even under skipping (the `_metadata.row_index`
    // mechanism), consumed and dropped by TxDvColumnar
    val dvBatchFn =
      if (columnarMode && files.exists(_.dvPos.nonEmpty))
        Some(GraftV2Bridge.parquetBatchReader(spark, physState,
          // nullable BY CONTRACT: the reader's required-column check
          // tolerates only nullable fields missing from the footer
          // (the row-index column never exists in the file; the
          // reader synthesizes it) — Spark's own ROW_INDEX_FIELD is
          // declared the same way
          StructType(physRead.fields :+ org.apache.spark.sql.types
            .StructField(GraftV2Bridge.rowIndexColumnName,
              org.apache.spark.sql.types.LongType, nullable = true)),
          physPushed))
      else None
    new TxRowReaderFactory(readerFn, dataRead, required, needsFile,
      needsPos, batchFn,
      new TxSerializableConf(spark.sessionState.newHadoopConf()),
      dvBatchFn)
  }

  override def description(): String =
    s"TxFileScan(${table.path}, ${files.size} files, " +
      s"PushedFilters: [${pushed.mkString(", ")}])"
}

/** Per-partition: Spark's own serialized parquet row reader, the
  * `_file` constant appended, one UnsafeProjection into the required
  * column order (also materializes rows off the reader's reused
  * buffers).
  */
class TxRowReaderFactory(
    readerFn: org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.catalyst.InternalRow],
    dataRead: StructType, required: StructType, needsFile: Boolean,
    needsPos: Boolean = false,
    batchFn: Option[org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = None,
    hconf: TxSerializableConf = null,
    // DV-bearing splits read through this one: same columns as batchFn
    // PLUS the reader-filled row-index column last — position-delete
    // application keys on it, so parquet row-group/page skipping stays
    // ON for selective reads over DV-bearing files
    dvBatchFn: Option[org.apache.spark.sql.execution.datasources.PartitionedFile =>
      Iterator[org.apache.spark.sql.vectorized.ColumnarBatch]] = None)
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {

  override def supportColumnarReads(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : Boolean = batchFn.isDefined

  /** The first row index of this split — from the parquet footer,
    * selecting exactly the row groups the reader will (parquet's
    * midpoint rule: a block belongs to the split containing its
    * compressed midpoint). ROW-branch only: that branch reads its
    * split whole and in storage order with no filter pushdown, so
    * rows run CONSECUTIVELY from this anchor and a running count IS
    * the parquet row index. The columnar branch does not come here —
    * its positions arrive exact from the reader's row-index column
    * (valid under pushdown), with no footer read at all. Only
    * position-consulting partial splits pay this (~one metadata RPC).
    */
  private def splitRowRange(p: TxFileSplit): (Long, Long) = {
    val footer = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      hconf.value, new Path(p.abs),
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    var first = 0L
    var expect = 0L
    footer.getBlocks.asScala.foreach { b =>
      val mid = b.getStartingPos + b.getCompressedSize / 2
      if (mid < p.start) first += b.getRowCount
      else if (mid < p.start + p.length) expect += b.getRowCount
    }
    (first, expect)
  }

  override def createColumnarReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.vectorized.ColumnarBatch] =
    TxRowReaderFactory.reader(partition.asInstanceOf[TxSplitBin].splits
      .iterator.flatMap { p =>
        if (p.dvPos.isEmpty)
          // untouched file: native batches as-is (filters already
          // pushed into the reader — row-group skipping intact)
          batchFn.get(p.file)
        else
          // DV-bearing: the row-index-carrying reader + per-batch
          // compaction keyed on exact parquet row indexes — valid under
          // row-group/page skipping, no footer read, no running count
          TxDvColumnar.filtered(dvBatchFn.get(p.file), p.dvPos, dataRead)
      })

  override def createReader(
      partition: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[
        org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
    val joined = StructType(dataRead.fields :+
      org.apache.spark.sql.types.StructField(TxRowLevel.FileCol,
        org.apache.spark.sql.types.StringType, nullable = false) :+
      org.apache.spark.sql.types.StructField(TxRowLevel.PosCol,
        org.apache.spark.sql.types.LongType, nullable = false))
    val proj = UnsafeProjection.create(required.fields.toIndexedSeq.map { f =>
      val i = joined.fieldIndex(f.name)
      BoundReference(i, f.dataType, f.nullable)
    })
    TxRowReaderFactory.reader(partition.asInstanceOf[TxSplitBin].splits
      .iterator.flatMap(rowsOf(_, proj)))
  }

  /** One split's rows through `proj`: Spark's parquet row reader, the
    * split's deleted positions dropped, `_file`/`_pos` joined on when
    * the scan produces them.
    */
  private def rowsOf(p: TxFileSplit,
                     proj: org.apache.spark.sql.catalyst.expressions.UnsafeProjection)
      : Iterator[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    val fileRow = new GenericInternalRow(Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(p.abs)))
    val base0 = readerFn(p.file)
    // `posOf(0)` = the EMITTED row's parquet row index — the position
    // the del files record, surviving DV filtering intact: a row's id
    // must be its ORIGINAL position, never a post-delete renumbering.
    // A whole-file split counts from 0; a PARTIAL split anchors from
    // the footer (only computed when positions are actually consulted).
    val posOf = new Array[Long](1)
    val startPos =
      if (p.dvPos.isEmpty && !needsPos) 0L // positions never consulted
      else if (p.start == 0L && p.length >= p.fileSize) 0L
      else splitRowRange(p)._1
    // merge-on-read: drop this file's deleted positions. The split
    // reads its row groups whole and in storage order; both sides
    // sorted → one O(1)-per-row pointer walk.
    val base =
      if (p.dvPos.isEmpty) {
        if (!needsPos) base0
        else new Iterator[InternalRow] {
          private var pos = startPos - 1
          override def hasNext: Boolean = base0.hasNext
          override def next(): InternalRow = {
            val r = base0.next(); pos += 1; posOf(0) = pos; r
          }
        }
      } else new Iterator[InternalRow] {
        private val dv = p.dvPos
        private var di = 0
        private var pos = startPos - 1
        private var nextRow: InternalRow = _
        private var ready = false
        private def advance(): Unit = {
          while (!ready && base0.hasNext) {
            val r = base0.next(); pos += 1
            while (di < dv.length && dv(di) < pos) di += 1
            if (di < dv.length && dv(di) == pos) di += 1
            else { nextRow = r; posOf(0) = pos; ready = true }
          }
        }
        override def hasNext: Boolean = { advance(); ready }
        override def next(): InternalRow = {
          advance()
          if (!ready) throw new NoSuchElementException
          ready = false; nextRow
        }
      }
    if (!needsFile && !needsPos) base.map(proj)
    else {
      val jr = new JoinedRow()
      val jr2 = new JoinedRow()
      val posRow = new GenericInternalRow(1)
      base.map { r =>
        posRow.update(0, posOf(0))
        proj(jr2(jr(r, fileRow), posRow))
      }
    }
  }
}

object TxRowReaderFactory {
  /** A partition reader over a bin's concatenated split iterators. */
  private def reader[T](it: Iterator[T])
      : org.apache.spark.sql.connector.read.PartitionReader[T] =
    new org.apache.spark.sql.connector.read.PartitionReader[T] {
      private var current: T = _
      override def next(): Boolean =
        if (it.hasNext) { current = it.next(); true } else false
      override def get(): T = current
      override def close(): Unit = ()
    }
}

/** A [[org.apache.spark.sql.connector.read.Scan]] that IS the delegate
  * parquet scan for batch reads (every method forwards, including
  * statistics) and ADDS the micro-batch stream —
  * `spark.readStream.table("gx.t")`.
  */
class TxStreamCapableScan(spark: SparkSession, table: TxSnapshotTable,
                          delegate: org.apache.spark.sql.connector.read.Scan,
                          options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = delegate.readSchema()
  override def description(): String = delegate.description()
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    delegate.toBatch
  override def columnarSupportMode()
      : org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
    delegate.columnarSupportMode()
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    delegate.supportedCustomMetrics()
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    delegate.reportDriverMetrics()

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = delegate match {
    case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
      s.estimateStatistics()
    case _ => new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new TxMicroBatchStream(spark, table, readSchema(), options)
}

/** `spark.readStream.table("gx.t")` — the MAIN-TABLE append feed (the
  * Delta default-streaming shape, distinct from the V1
  * `readStream.format("txtable")` source, which serves the ROW-LEVEL
  * change feed with deletes and update images):
  *
  *  - batch 0 = the snapshot pinned at load (unless `startingVersion`
  *    says otherwise), later batches = the files APPENDED by
  *    `(start, end]` commits — file partitions straight off the log,
  *    no diff computation;
  *  - content-identical maintenance commits (compact / compactSmall /
  *    optimize) stream as zero rows by construction;
  *  - a commit that CHANGED existing rows (overwrite, merge, delete,
  *    update, replaceWhere, restore) fails loudly — streaming them as
  *    appends would silently double or lose rows — unless
  *    `option("skipChangeCommits", "true")` opts into skipping them
  *    (Delta's semantics of the same name); the row-level feed is the
  *    V1 source's job;
  *  - admission control and AvailableNow follow the V1 source's shape:
  *    `maxVersionsPerTrigger` caps each batch in commit-versions, and
  *    the restored committed offset always enters `latestOffset`.
  */
class TxMicroBatchStream(spark: SparkSession, table: TxSnapshotTable,
                         required: StructType,
                         options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  import org.apache.spark.sql.connector.read.streaming.{Offset => OffsetV2, ReadLimit, ReadMaxRows}

  private val path = table.path
  private val skipChangeCommits =
    Option(options.get("skipChangeCommits")).exists(_.toBoolean)
  private val startingVersion =
    Option(options.get("startingVersion")).map(_.toLong)
  private val maxVersions =
    Option(options.get("maxVersionsPerTrigger")).map(_.toLong)
  /** The snapshot schema every batch is projected under (see the
    * evolution gate in [[planInputPartitions]]). */
  private lazy val loadTimeSchema =
    TxTable.stateSchema(spark, path, table.state)
  @volatile private var availableNowHead: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowHead = Some(TxTable.latestVersion(spark, path))

  override def getDefaultReadLimit: ReadLimit =
    maxVersions.map(ReadLimit.maxRows).getOrElse(ReadLimit.allAvailable())

  override def initialOffset(): OffsetV2 = startingVersion match {
    case Some(sv) => TxV2StreamOffset(sv, init = false)
    case None     => TxV2StreamOffset(table.snapVersion, init = true)
  }

  override def deserializeOffset(json: String): OffsetV2 =
    TxV2StreamOffset.parse(json)

  private def off(o: OffsetV2): TxV2StreamOffset = o match {
    case t: TxV2StreamOffset => t
    case other               => TxV2StreamOffset.parse(other.json())
  }

  override def latestOffset(): OffsetV2 =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the admission-control path")

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit)
      : OffsetV2 = {
    val start = off(Option(startOffset).getOrElse(initialOffset()))
    val head0 = TxTable.latestVersion(spark, path)
    val head = availableNowHead.fold(head0)(math.min(head0, _))
    val capped = limit match {
      case r: ReadMaxRows => math.min(head, start.v + r.maxRows())
      case _              => head
    }
    // the pending initial snapshot is itself a batch: emit the same
    // version with init cleared even when no commit landed since
    if (capped <= start.v && !start.init) null
    else TxV2StreamOffset(math.max(capped, start.v), init = false)
  }

  override def planInputPartitions(start: OffsetV2, end: OffsetV2)
      : Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val s = off(start); val e = off(end)
    val parts = Seq.newBuilder[TxFileSplit]
    def fileParts(files: Seq[String],
                  dvs: Map[String, Array[Long]] = Map.empty): Unit = {
      val st = TxTable.liveFileStatuses(spark, path, files)
      files.foreach { f =>
        val fst = st(f)
        parts += TxFileSplit(fst.getPath.toString, 0L, fst.getLen,
          fst.getLen, dvs.getOrElse(f, Array.empty))
      }
    }
    if (s.init) {
      // the initial snapshot batch is a READ of version s.v — apply
      // its position deletes like any other read (appended files in
      // later batches are new and carry none by construction)
      val snap = TxTable.snapshotState(spark, path, s.v)
      fileParts(snap.files, TxTable.delPositions(spark, path, snap))
    }
    TxTable.commitsIn(spark, path, s.v, e.v).foreach { c =>
      // Schema-evolution gate (Delta parity): every batch's files are
      // read under the LOAD-TIME snapshot schema (createReaderFactory),
      // so a commit that WIDENS it — an evolveAppend / ALTER TABLE ADD
      // COLUMN — would otherwise stream through as a zero-row append
      // and every later append would be silently projected to the old
      // shape, shipping nulls for a column that exists upstream. Fail
      // the stream loudly instead; a restart reloads the widened
      // schema and resumes from the checkpoint. Commits whose schema
      // is COVERED by the load-time schema (historical evolutions in
      // a startingVersion replay) pass — the head schema null-fills.
      c.schemaB64.map(TxTable.schemaFromB64).foreach { cs =>
        // compared by PHYSICAL name: a RENAME is metadata-only (no
        // file changes names — physicals are immutable), so it must
        // not trip the gate on replay or mid-stream; only a column
        // the load-time mapping cannot read — a genuine widening —
        // forces the restart
        val known = loadTimeSchema.fields
          .map(f => (TxMapping.physicalName(f), f.dataType)).toSet
        val added = cs.fields.filterNot(f =>
          known((TxMapping.physicalName(f), f.dataType)))
        if (added.nonEmpty) throw new IllegalStateException(
          s"readStream.table on $path: version ${c.version} evolved the " +
            s"table schema (added ${added.map(_.name).mkString(", ")}) " +
            "past this stream's load-time schema — restart the stream " +
            "so it picks up the new schema; the checkpoint resumes from " +
            "this offset")
      }
      val identical = c.op.exists(o =>
        o == "compact" || o == "compactSmall" || o == "optimize")
      if (c.action == "append") fileParts(c.files)
      else if (c.version == 1L && !s.init) fileParts(c.files) // creation
      else if (identical || skipChangeCommits) () // zero new rows
      else throw new IllegalStateException(
        s"readStream.table on $path: version ${c.version} " +
          s"(${c.op.getOrElse(c.action)}) CHANGED existing rows — the " +
          "main-table stream serves appends only. Either " +
          "option(\"skipChangeCommits\",\"true\") to skip such commits, " +
          "or consume the row-level change feed via " +
          "spark.readStream.format(\"txtable\").load(path)")
    }
    // whole files (the stream never splits one), packed like a batch scan
    val splits = parts.result()
    GraftV2Bridge.packSplits(spark, splits, (s: TxFileSplit) => s.file,
      GraftV2Bridge.maxSplitBytes(spark, splits.map(_.length)))
      .map(TxSplitBin(_)).toArray
  }

  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    // physical twins for the file reader (column mapping; identity
    // unmapped) — reader output is positional, the stream's schema
    // stays logical. A RENAME mid-stream changes the logical schema
    // and trips the evolution gate above (restart picks it up);
    // physical names never change, so the translation is stable.
    val mapped = TxTable.stateSchema(spark, path, table.state)
    val physMap = TxMapping.toPhysicalMap(mapped)
    new TxRowReaderFactory(
      GraftV2Bridge.parquetRowReader(spark,
        TxMapping.toPhysicalSchema(mapped),
        TxMapping.renameSchema(required, physMap)),
      required, required, needsFile = false)
  }

  override def commit(end: OffsetV2): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"TxMicroBatchStream[$path]"
}

case class TxV2StreamOffset(v: Long, init: Boolean)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"v":$v,"init":$init}"""
}

object TxV2StreamOffset {
  private val Pat = """\{"v":(\d+),"init":(true|false)\}""".r
  def parse(json: String): TxV2StreamOffset = json.trim match {
    case Pat(v, i) => TxV2StreamOffset(v.toLong, i.toBoolean)
    case other => throw new IllegalArgumentException(
      s"not a txtable stream offset: '$other'")
  }
}

/** The rewrite's write half: executor-side parquet into one
  * commit-unique staging dir (invisible until the commit references
  * it — the TxTable atomic-visibility invariant), then ONE
  * [[TxTable.commitReplace]] claiming remove(scanned) + add(staged).
  */
class TxReplaceWrite(spark: SparkSession, table: TxV2Table,
                     op: TxRowLevelOperation, writeSchema: StructType)
    extends Write with org.apache.spark.sql.connector.write.BatchWrite
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  private val stagingRel = "data-" +
    java.util.UUID.randomUUID().toString.take(12)
  private def stagingAbs = s"${table.path}/$stagingRel"

  override def toBatch: org.apache.spark.sql.connector.write.BatchWrite = this

  /** A range-clustered head keeps its LAYOUT through SQL DML: the
    * rewrite's rows land range-partitioned + sorted on the cluster
    * column (Spark injects the exchange/sort from this declaration, the
    * Delta/Iceberg ordered-write shape), so the restaged files' footer
    * ranges stay as tight as the files they replace — a MERGE must not
    * slowly smear a clustered 100 TB table into overlap. Z-ordered and
    * unclustered heads ask nothing: their rewrites keep the query's
    * partitioning (z-rectangles recomputed from real footers stay
    * correct either way), and the rewrite set is small by construction.
    */
  private def clusterSort
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    table.state.statsCol match {
      // statsCol records the PHYSICAL name; the write plan's columns
      // are LOGICAL — translate, or a rename of the cluster column
      // silently drops the ordered-write layout and every later MERGE
      // smears the footer ranges
      case Some(sc) if table.state.statsCols.size < 2 =>
        val lsc = TxMapping.toLogicalName(Some(table.mappedSchema))(sc)
        if (!writeSchema.fieldNames.contains(lsc)) Array.empty
        else Array(org.apache.spark.sql.connector.expressions.Expressions.sort(
          org.apache.spark.sql.connector.expressions.Expressions.column(lsc),
          org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING))
      case _ => Array.empty
    }

  override def requiredDistribution()
      : org.apache.spark.sql.connector.distributions.Distribution = {
    val s = clusterSort
    if (s.isEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()
    else org.apache.spark.sql.connector.distributions.Distributions.ordered(s)
  }

  override def requiredOrdering()
      : Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    clusterSort

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory = {
    // rows are positional; the parquet writer only needs the PHYSICAL
    // names (what carried files use — a rewrite commit keeps schemaB64,
    // so the staged files must match the mapping; identity unmapped)
    val fileSchema = TxMapping.renameSchema(writeSchema,
      TxMapping.toPhysicalMap(table.mappedSchema))
    val (factory, conf) = GraftV2Bridge.parquetWriterFactory(spark, fileSchema)
    Dedup.hadoopFs(spark, table.path)
      .mkdirs(new Path(stagingAbs))
    new TxDataWriterFactory(stagingAbs, fileSchema, factory,
      new TxSerializableConf(conf))
  }

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val added = messages.toSeq
      .collect { case m: TxWriteMessage if m.rows > 0 =>
        s"$stagingRel/${m.name}" }.sorted
    val removed = op.scannedFiles
    if (removed.isEmpty && added.isEmpty) return // no groups touched, no-op
    TxTable.commitReplace(spark, table.path, table.snapVersion,
      removed, added, op.command().toString.toLowerCase(java.util.Locale.ROOT))
    ()
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    Dedup.hadoopFs(spark, table.path).delete(new Path(stagingAbs), true)
    ()
  }

  override def description(): String =
    s"TxReplaceWrite(${table.path}, ${op.command()})"
}

case class TxWriteMessage(name: String, rows: Long)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

/** DELTA-BASED (merge-on-read) row-level operation — the
  * [[org.apache.spark.sql.connector.write.SupportsDelta]] shape Spark's
  * `RewriteUpdateTable` / `RewriteMergeIntoTable` /
  * `RewriteDeleteFromTable` plan when the connector exposes a row id
  * (Iceberg's position-delta design): the scan serves only candidate
  * rows with their durable id (`_file`, `_pos` — files are immutable,
  * so a parquet position identifies a row forever), and the write
  * receives per-row DELETE/UPDATE/INSERT deltas instead of whole
  * restaged files. One `dv` commit lands position deletes + row
  * images: O(changed rows) bytes for the SQL statements a large table
  * actually receives, where the group-based rewrite is O(matched
  * files). Enabled per catalog via `dv_dml`; maintenance
  * (compact/compactSmall/optimize) purges the accumulated deletes.
  */
class TxDeltaRowLevelOperation(
    spark: SparkSession, table: TxV2Table,
    cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.SupportsDelta {

  override def command()
      : org.apache.spark.sql.connector.write.RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = new TxRowLevelScanBuilder(spark, table, _ => ())

  override def rowId()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(
      org.apache.spark.sql.connector.expressions.Expressions
        .column(TxRowLevel.FileCol),
      org.apache.spark.sql.connector.expressions.Expressions
        .column(TxRowLevel.PosCol))

  // updates arrive as update(id, row) pairs — the image lands in the
  // same task as its position delete, one commit either way
  override def representUpdateAsDeleteAndInsert(): Boolean = false

  override def requiredMetadataAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array.empty

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new TxDeltaWrite(spark, table, info.schema,
          info.rowIdSchema.orElse(null), cmd)
    }

  override def description(): String = s"TxDeltaRowLevelOperation($cmd)"
  override def toString: String = description()
}

/** The delta write: executor-side tasks stream row images into parquet
  * data files and (file, position) rows into del files — both invisible
  * in one staging dir — then ONE [[TxTable.commitDelta]] claims a `dv`
  * commit under the same conflict rules as the group-based rewrite
  * ([[TxTable.requireScanStillValid]]: referenced files still live,
  * their delete sets unchanged since the scan — concurrent ADDITIVE
  * schema evolution is deliberately admitted, the null-fill widening
  * cannot invalidate positions or images), WriteSerializable.
  */
class TxDeltaWrite(spark: SparkSession, table: TxV2Table,
                   writeSchema: StructType, rowIdSchema: StructType,
                   cmd: org.apache.spark.sql.connector.write.RowLevelOperation.Command)
    extends org.apache.spark.sql.connector.write.DeltaWrite
    with org.apache.spark.sql.connector.write.DeltaBatchWrite {

  private val stagingRel = "data-" +
    java.util.UUID.randomUUID().toString.take(12)
  private def stagingAbs = s"${table.path}/$stagingRel"

  override def toBatch
      : org.apache.spark.sql.connector.write.DeltaBatchWrite = this

  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriterFactory = {
    // image files are TABLE DATA: physical column names (identity
    // unmapped); del files keep their own (f, pos) shape
    val imgSchema = TxMapping.renameSchema(writeSchema,
      TxMapping.toPhysicalMap(table.mappedSchema))
    val (imgFactory, imgConf) =
      GraftV2Bridge.parquetWriterFactory(spark, imgSchema)
    val (delFactory, delConf) =
      GraftV2Bridge.parquetWriterFactory(spark, TxTable.DelSchema)
    Dedup.hadoopFs(spark, table.path).mkdirs(new Path(stagingAbs))
    // rowId field order comes from the resolved write info, not from
    // our declaration — bind by name, defensively
    val ri = Option(rowIdSchema).getOrElse(StructType(Nil))
    val fileIdx = ri.fieldNames.indexOf(TxRowLevel.FileCol)
    val posIdx = ri.fieldNames.indexOf(TxRowLevel.PosCol)
    require(fileIdx >= 0 && posIdx >= 0,
      s"delta write on ${table.path}: rowId schema $ri lacks " +
        s"${TxRowLevel.FileCol}/${TxRowLevel.PosCol}")
    new TxDeltaWriterFactory(stagingAbs, imgSchema, imgFactory,
      new TxSerializableConf(imgConf), delFactory,
      new TxSerializableConf(delConf), fileIdx, posIdx)
  }

  override def commit(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val msgs = messages.toSeq.collect { case m: TxDeltaMessage => m }
    val imgs = msgs.collect { case m if m.imgRows > 0 =>
      s"$stagingRel/${m.imgName}" }.sorted
    val dels = msgs.collect { case m if m.delRows > 0 =>
      s"$stagingRel/${m.delName}" }.sorted
    if (imgs.isEmpty && dels.isEmpty) {
      // nothing matched: no commit, but createBatchWriterFactory
      // already mkdir'd the staging dir — remove it like abort does,
      // or every no-op DML statement orphans an empty `data-*` dir
      Dedup.hadoopFs(spark, table.path).delete(new Path(stagingAbs), true)
      return
    }
    TxTable.commitDelta(spark, table.path, table.snapVersion, dels, imgs,
      msgs.flatMap(_.referenced).distinct.sorted,
      cmd.toString.toLowerCase(java.util.Locale.ROOT))
    ()
  }

  override def abort(
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    Dedup.hadoopFs(spark, table.path).delete(new Path(stagingAbs), true)
    ()
  }

  override def description(): String =
    s"TxDeltaWrite(${table.path}, $cmd)"
}

case class TxDeltaMessage(imgName: String, imgRows: Long,
                          delName: String, delRows: Long,
                          referenced: Seq[String])
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

class TxDeltaWriterFactory(
    stagingAbs: String, imgSchema: StructType,
    imgOwf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    imgConf: TxSerializableConf,
    delOwf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    delConf: TxSerializableConf,
    fileIdx: Int, posIdx: Int)
    extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[
        org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      import org.apache.spark.sql.catalyst.InternalRow
      private val imgName = f"part-$partitionId%05d-$taskId.parquet"
      private val delName = f"del-$partitionId%05d-$taskId.parquet"
      private var img: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var del: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var imgRows = 0L
      private var delRows = 0L
      private val referenced = scala.collection.mutable.LinkedHashSet[String]()
      // del rows key on the two-segment RELATIVE name (TxTable's
      // RelNameRegex contract); the id carries the absolute path
      private val relPat = java.util.regex.Pattern.compile("[^/]+/[^/]+$")
      private val delRow =
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(2)

      private def writeDel(id: InternalRow): Unit = {
        val abs = id.getUTF8String(fileIdx).toString
        val m = relPat.matcher(abs)
        require(m.find(),
          s"row id file path '$abs' has no two-segment relative tail")
        val rel = m.group()
        referenced += rel
        delRow.update(0,
          org.apache.spark.unsafe.types.UTF8String.fromString(rel))
        delRow.update(1, id.getLong(posIdx))
        if (del == null)
          del = GraftV2Bridge.newOutputWriter(delOwf,
            s"$stagingAbs/$delName", TxTable.DelSchema, delConf.value,
            partitionId, taskId)
        del.write(delRow)
        delRows += 1
      }

      override def delete(metadata: InternalRow, id: InternalRow): Unit =
        writeDel(id)

      override def update(metadata: InternalRow, id: InternalRow,
                          row: InternalRow): Unit = {
        writeDel(id)
        insert(row)
      }

      override def insert(row: InternalRow): Unit = {
        if (img == null)
          img = GraftV2Bridge.newOutputWriter(imgOwf,
            s"$stagingAbs/$imgName", imgSchema, imgConf.value,
            partitionId, taskId)
        img.write(row)
        imgRows += 1
      }

      override def commit()
          : org.apache.spark.sql.connector.write.WriterCommitMessage = {
        if (img != null) img.close()
        if (del != null) del.close()
        TxDeltaMessage(imgName, imgRows, delName, delRows,
          referenced.toSeq)
      }

      override def abort(): Unit = {
        Seq(Option(img) -> imgName, Option(del) -> delName).foreach {
          case (Some(w), name) =>
            w.close()
            val p = new Path(s"$stagingAbs/$name")
            p.getFileSystem(imgConf.value).delete(p, false)
            ()
          case _ => ()
        }
      }

      override def close(): Unit = ()
    }
}

class TxDataWriterFactory(stagingAbs: String, schema: StructType,
                          owf: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
                          conf: TxSerializableConf)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] =
    new org.apache.spark.sql.connector.write.DataWriter[
        org.apache.spark.sql.catalyst.InternalRow] {
      // name is JSON-inert by construction (stage()'s [a-zA-Z0-9/._-])
      private val name = f"part-$partitionId%05d-$taskId.parquet"
      private var writer: org.apache.spark.sql.execution.datasources.OutputWriter = _
      private var count = 0L

      override def write(row: org.apache.spark.sql.catalyst.InternalRow)
          : Unit = {
        // lazily opened: a zero-row task must leave NO file behind
        // (every task would otherwise stage an empty parquet file the
        // commit then carries forever)
        if (writer == null)
          writer = GraftV2Bridge.newOutputWriter(owf, s"$stagingAbs/$name",
            schema, conf.value, partitionId, taskId)
        writer.write(row)
        count += 1
      }

      override def commit()
          : org.apache.spark.sql.connector.write.WriterCommitMessage = {
        if (writer != null) writer.close()
        if (count > 0) TxWriteMessage(name, count)
        else TxWriteMessage("", 0L) // filtered out by the driver
      }

      override def abort(): Unit = {
        if (writer != null) {
          writer.close()
          val p = new Path(s"$stagingAbs/$name")
          val fs = p.getFileSystem(conf.value)
          fs.delete(p, false)
          ()
        }
      }

      override def close(): Unit = ()
    }
}

/** Hadoop `Configuration` over the wire (Spark's own wrapper is
  * `private[spark]`): writes the conf's XML-ish property stream.
  */
class TxSerializableConf(@transient private var conf: org.apache.hadoop.conf.Configuration)
    extends java.io.Serializable {
  def value: org.apache.hadoop.conf.Configuration = conf
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    conf.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    conf = new org.apache.hadoop.conf.Configuration(false)
    conf.readFields(in)
  }
}

/** V1 `sources.Filter` → `Column` (the reverse of Spark's pushdown
  * translation): how SQL `DELETE FROM` predicates reach
  * [[TxTable.deleteWhere]]'s Column contract. Conservative — `None`
  * for anything unrecognized, which flips the table to
  * `canDeleteWhere = false` and the row-level fallback.
  */
private[api] object TxFilters {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case And(l, r)                => for { a <- toColumn(l); b <- toColumn(r) } yield a && b
    case Or(l, r)                 => for { a <- toColumn(l); b <- toColumn(r) } yield a || b
    case Not(c)                   => toColumn(c).map(!_)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case AlwaysTrue()             => Some(lit(true))
    case AlwaysFalse()            => Some(lit(false))
    case _                        => None
  }
}

/** `INSERT INTO` / `INSERT OVERWRITE` / `INSERT INTO ... REPLACE WHERE`
  * as single transactional commits: the [[V1Write]] fallback hands the
  * materialized DataFrame to the SAME verbs every other write path
  * uses — schema-on-write enforcement, claim-loop concurrency, atomic
  * visibility — instead of a second executor-side write stack that
  * could drift. A conditional overwrite routes to
  * [[TxTable.replaceWhere]] (one commit replacing exactly the matched
  * slice, file-level on indexed tables); a predicate that cannot
  * round-trip reports `canOverwrite = false` and fails loudly instead
  * of silently truncating the table.
  */
class TxV1WriteBuilder(spark: SparkSession, path: String,
                       info: LogicalWriteInfo)
    extends WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwriteV2 {

  private var overwriteAll = false
  private var replaceCond: Option[org.apache.spark.sql.Column] = None

  private def toCond(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Option[org.apache.spark.sql.Column] = {
    val cols = predicates.toSeq.map(p =>
      GraftV2Bridge.predicateToV1(p).flatMap(TxFilters.toColumn))
    if (cols.exists(_.isEmpty)) None
    else Some(cols.flatten.reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true)))
  }

  override def truncate(): WriteBuilder = { overwriteAll = true; this }

  override def canOverwrite(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : Boolean = toCond(predicates).isDefined

  override def overwrite(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate])
      : WriteBuilder = {
    if (predicates.forall(_.name() == "ALWAYS_TRUE")) overwriteAll = true
    else replaceCond = Some(toCond(predicates).getOrElse(
      throw new UnsupportedOperationException(
        s"txtable cannot overwrite by ${predicates.mkString(" AND ")}: " +
          "the predicate does not round-trip to a source filter")))
    this
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: org.apache.spark.sql.DataFrame,
                            overwrite: Boolean): Unit = {
          val clustered = Option(info.options.get("clustered"))
            .exists(_.toBoolean)
          replaceCond match {
            case Some(cond) => TxTable.replaceWhere(spark, path, cond, data)
            case None if overwriteAll || overwrite =>
              TxTable.overwrite(spark, path, data)
            case None if clustered =>
              // indexed ingest parity with the V1 sink's
              // option("clustered","true"): the increment lands in the
              // table's declared layout with its skipping metadata
              TxTable.appendClustered(spark, path, data)
            case None => TxTable.append(spark, path, data)
          }
          ()
        }
      }

    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
      new TxStreamingWrite(spark, path, info.queryId(), info.schema(),
        truncatePerEpoch = overwriteAll)
  }
}

/** The staged side of atomic CTAS / REPLACE TABLE: writes stage
  * invisible `data-*` files under the table path (a dir with no
  * `_txlog` is not a table; staged files are unreferenced until a
  * commit names them), and [[commitStagedChanges]] publishes them in
  * ONE log claim —
  *
  *  - CREATE ... AS SELECT: claim EXACTLY version 1 with the staged
  *    files (the [[TxTable.createExactlyV1Files]] race discipline —
  *    a concurrent creator serializes on the claim, the loser's
  *    staging is deleted and `TableAlreadyExistsException` thrown);
  *  - [CREATE OR] REPLACE TABLE [AS SELECT]: one history-preserving
  *    overwrite commit (op `replaceTable`) — old versions stay
  *    time-travelable, the staged files define the new schema
  *    (overwrite's evolution-reset contract), and a concurrent
  *    writer's commit conflicts through the normal claim loop.
  *
  * [[abortStagedChanges]] (Spark calls it when the query throws)
  * deletes the stagings; a REPLACE whose source query fails therefore
  * leaves the old table untouched, history intact — spec-pinned.
  */
class TxStagedTable(spark: SparkSession, val path: String,
                    ident: Identifier, name0: String,
                    declared: StructType,
                    replaceExisting: Boolean, orCreate: Boolean,
                    props: Map[String, String] = Map.empty)
    extends StagedTable with SupportsWrite {

  private val hfs = Dedup.hadoopFs(spark, path)
  private val dirExistedAtStage = hfs.exists(new Path(path))
  private val staged =
    scala.collection.mutable.ArrayBuffer.empty[String]

  override def name(): String = name0
  override lazy val schema: StructType = declared

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // the staging starts empty, so "truncate then write" and
      // "write" produce the same staged content — accept and ignore
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: org.apache.spark.sql.DataFrame,
                                overwrite: Boolean): Unit =
              staged.synchronized {
                staged ++= TxTable.stageFiles(spark, path, data)
                ()
              }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val files = staged.synchronized {
      if (staged.isEmpty)
        // plain REPLACE TABLE (no AS SELECT) / empty CTAS: the commit
        // still needs one schema-carrying file so the table reads as
        // EMPTY with the declared schema (createTable's discipline)
        staged ++= TxTable.stageFiles(spark, path, spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), declared))
      staged.toSeq
    }
    if (replaceExisting) {
      // one overwrite commit whether the table still exists (normal
      // REPLACE — claims head+1, history preserved) or was dropped /
      // never existed under OR REPLACE (claims v1 — a create)
      TxTable.commitReplaceTable(spark, path, files, props)
      ()
    } else if (!TxTable.createExactlyV1Files(spark, path, files, props)) {
      cleanupDir()
      throw new TableAlreadyExistsException(ident)
    }
  }

  override def abortStagedChanges(): Unit = {
    TxTable.deleteStagings(spark, path,
      staged.synchronized(staged.toSeq))
    cleanupDir()
  }

  /** If staging MINTED the table directory and nothing else landed in
    * it, remove it — an empty dir under the warehouse would otherwise
    * read as a phantom namespace. Retries briefly: a zombie task of a
    * failed write can still be unwinding its own staging cleanup
    * (stage()'s delete-on-throw re-deletes it), so "empty" may arrive
    * a beat after the abort. Never force-deletes content it does not
    * own — a RACING creator's in-flight staging must survive.
    */
  private def cleanupDir(): Unit = {
    var attempt = 0
    while (!dirExistedAtStage && attempt < 15 && hfs.exists(new Path(path))) {
      if (hfs.exists(new Path(s"$path/_txlog")))
        return // a racing creator committed: this is a real table now
      if (hfs.listStatus(new Path(path)).isEmpty) {
        hfs.delete(new Path(path), true)
        return
      }
      Thread.sleep(100)
      attempt += 1
    }
  }

  override def toString: String = s"TxStagedTable($name0)"
}

/** `df.writeStream.toTable("gx.t")` — exactly-once streaming ingest
  * through the catalog: each epoch's executor-staged files land as ONE
  * txn-tagged commit (`stream:<queryId>:<epochId>`), so a redelivered
  * epoch after a crash-restart re-presents its txn id and lands
  * nothing — the commit log IS the sink's idempotence ledger, the same
  * contract as the V1 `format("txtable")` sink. `queryId` is the
  * STREAMING QUERY id (stable across restarts, persisted in the
  * checkpoint), not the per-run id — the property the txn scope needs.
  * Complete output mode truncates per epoch (overwrite commits);
  * append mode appends.
  */
class TxStreamingWrite(spark: SparkSession, path: String,
                       queryId: String, writeSchema: StructType,
                       truncatePerEpoch: Boolean)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private val stagingRel = "data-" +
    java.util.UUID.randomUUID().toString.take(12)
  private def stagingAbs = s"$path/$stagingRel"

  override def createStreamingWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory = {
    // append epochs join the existing files under the table's mapping
    // (physical names, immutable — safe to resolve once per run);
    // complete-mode epochs OVERWRITE, resetting schemaB64 and the
    // mapping with it, so their files define logical names directly
    val fileSchema =
      if (truncatePerEpoch) writeSchema
      else TxTable.headLogical(spark, path)
        .map(l => TxMapping.renameSchema(writeSchema,
          TxMapping.toPhysicalMap(l)))
        .getOrElse(writeSchema)
    val (factory, conf) = GraftV2Bridge.parquetWriterFactory(spark, fileSchema)
    Dedup.hadoopFs(spark, path).mkdirs(new Path(stagingAbs))
    val dwf = new TxDataWriterFactory(stagingAbs, fileSchema, factory,
      new TxSerializableConf(conf))
    // task ids are app-unique and the staging dir is run-unique, so
    // epoch-agnostic names cannot collide; the commit scopes files by
    // the epoch's message set
    (partitionId: Int, taskId: Long, _: Long) =>
      dwf.createWriter(partitionId, taskId)
  }

  override def commit(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val added = messages.toSeq
      .collect { case m: TxWriteMessage if m.rows > 0 =>
        s"$stagingRel/${m.name}" }.sorted
    // a zero-row epoch in append mode lands NOTHING: committing it
    // would accrete one content-free version per skipped/empty
    // upstream batch (idempotence gains nothing — a redelivered empty
    // epoch also lands nothing). Complete mode still commits: its
    // contract is the head IS this epoch's aggregate, even when empty.
    if (added.isEmpty && !truncatePerEpoch) return
    TxTable.commitStagedAppend(spark, path, added,
      txn = Some(s"stream:$queryId:$epochId"),
      overwrite = truncatePerEpoch, schema = writeSchema)
    ()
  }

  override def abort(
      epochId: Long,
      messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage])
      : Unit = {
    val hfs = Dedup.hadoopFs(spark, path)
    messages.foreach {
      case m: TxWriteMessage if m.name.nonEmpty =>
        hfs.delete(new Path(s"$stagingAbs/${m.name}"), false)
      case _ => ()
    }
  }
}
