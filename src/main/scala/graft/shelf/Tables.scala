package graft.shelf

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.api.SchemaMemo

/** Table build step: dispatch (SQL / Scala step / subprocess escape
  * hatch), single-parquet-file output with atomic rename, metadata
  * processing, staleness checks.
  *
  * Reference: /root/reference/src/shelf/tables.py:51-181 (dispatch
  * :119-129, SQL step :155-181, python step :142-152, staleness :21-48).
  * The reference hands SQL to DuckDB; here dependencies become Spark temp
  * views and the text runs through `spark.sql` — Catalyst provides the
  * pushdown/pruning/join planning the reference delegates (SURVEY.md §4.2).
  */
object Tables {

  def tablePath(root: Path, uri: StepURI): Path =
    root.resolve("data/tables").resolve(uri.path + ".parquet")

  def scriptDir(root: Path): Path = root.resolve("src/steps/tables")

  /** Locate the step's executable: a file `src/steps/tables/<path>.*`, or
    * a registered Scala step under the table path (version segment
    * stripped candidates included, so one script can serve all versions).
    */
  def findScript(root: Path, uri: StepURI): Option[ScriptRef] = {
    val candidates = Seq(uri.path, uri.stem)
    val fromRegistry = candidates.flatMap(p =>
      StepRegistry.get(p).map(s => ScalaScript(p, s.version))).headOption
    def fromFiles: Option[ScriptRef] = candidates.flatMap { p =>
      val base = scriptDir(root).resolve(p)
      val dir = base.getParent
      val name = base.getFileName.toString
      if (dir != null && Files.isDirectory(dir))
        Files.list(dir).iterator().asScala
          .filter(f => {
            val fn = f.getFileName.toString
            fn.startsWith(name + ".") && !fn.endsWith(".meta.yaml")
          })
          .toSeq.sortBy(_.toString).headOption.map(FileScript.apply)
      else None
    }.headOption
    fromRegistry.orElse(fromFiles)
  }

  /** Load + schema-validate a step's `.meta.yaml` config against the
    * embedded table-config-v1 schema (table_metadata.py:40-48, same
    * "Invalid table configuration" wrapping). The repo's `write:` block
    * (single_file / partition_by / sort_by — the cluster-scale output
    * extension) passes untouched: table-config-v1 has no
    * additionalProperties:false, exactly like the reference.
    */
  private def loadConfig(script: ScriptRef): Map[String, Any] = {
    val config = script.configPath.filter(Files.exists(_))
      .map(Yaml.load).getOrElse(Map.empty[String, Any])
    val errs = Schemas.validate(config, Schemas.TableConfigV1)
    if (errs.nonEmpty) throw new IllegalArgumentException(
      s"Invalid table configuration:\n${errs.mkString("\n")}")
    config
  }

  /** Build one table (tables.py:51-57): prepare output, execute, write
    * metadata; validation failure deletes the output (atomicity contract
    * tables.py:60-66, 108-116).
    */
  def buildTable(spark: SparkSession, root: Path, uri: StepURI,
                 deps: Seq[StepURI]): Unit = {
    require(uri.scheme == "table", s"not a table step: $uri")
    val dest = tablePath(root, uri)
    deleteRecursively(dest)
    Option(dest.getParent).foreach(Files.createDirectories(_))

    val script = findScript(root, uri).getOrElse(
      throw new IllegalStateException(s"no script or registered step for $uri"))

    val start = java.time.Instant.now()
    var status = "failed"
    var error: Option[String] = None
    try {
      script match {
        case fs @ FileScript(p) if p.toString.endsWith(".sql") =>
          execSql(spark, root, p, deps, dest, writeConfig(loadConfig(fs)))
        case ScalaScript(name, _) =>
          StepRegistry.get(name).get.fn(spark, deps.map(dependencyPath(root, _)), dest)
        case FileScript(p) =>
          execSubprocess(root, p, deps, dest)
      }
      require(Files.exists(dest), s"Table step $uri did not generate the expected $dest")
      status = "success"
    } catch {
      case e: Throwable => error = Some(e.getMessage); throw e
    } finally {
      val end = java.time.Instant.now()
      val runtime = Map[String, Any](
        "start_time" -> start.toString,
        "end_time" -> end.toString,
        "duration_seconds" ->
          math.round(java.time.Duration.between(start, end).toMillis / 10.0) / 100.0,
        "status" -> status) ++ error.map("error" -> _)
      if (status == "success")
        try processMetadata(spark, root, uri, deps, script, dest, runtime)
        catch { case e: Throwable => deleteRecursively(dest); throw e }
    }
  }

  /** SQL step: `{name}` placeholders bind dependencies to temp views with
    * shortest-unique semantic names (tables.py:155-181 + 184-225); the
    * SELECT result is written as one parquet file.
    */
  private def execSql(spark: SparkSession, root: Path, sqlFile: Path,
                      deps: Seq[StepURI], dest: Path,
                      write: WriteConfig): Unit = {
    val frames = deps.map { d =>
      if (d.scheme == "table") {
        val path = tablePath(root, d).toString
        path -> SchemaMemo.read(spark, path)
      } else {
        val s = Snapshots.load(root, d)
        val path = s.dataPath(root).toString
        path -> readSnapshot(spark, path, s.checksum)
      }
    }
    val byPath = frames.toMap
    val names = Naming.simplifyDependencyNames(frames.map(_._1))
    var sql = Files.readString(sqlFile)
    names.foreach { case (name, path) =>
      val view = s"dep_$name"
      byPath(path).createOrReplaceTempView(view)
      sql = sql.replace(s"{$name}", view)
    }
    sql = sql.replace("{output_file}", dest.toString)
    var df = spark.sql(sql)
    // Sorted writes give parquet row-group min/max stats that downstream
    // range/equality filters can skip on — cheap data-skipping without an
    // index (config `write.sort_by`).
    if (write.sortBy.nonEmpty)
      df = df.sortWithinPartitions(write.sortBy.map(org.apache.spark.sql.functions.col): _*)
    if (write.singleFile) writeSingleParquet(df, dest)
    else {
      // Directory output for cluster-scale tables: optionally hive-style
      // partitioned; sidecar checksum becomes a manifest fold (A2), so
      // audit/staleness semantics are unchanged.
      val w = df.write.mode("overwrite")
      (if (write.partitionBy.nonEmpty) w.partitionBy(write.partitionBy: _*) else w)
        .parquet(dest.toString)
    }
  }

  /** `write:` block of the step config: single_file (default true, the
    * reference contract) and partition_by columns for directory outputs.
    */
  final case class WriteConfig(singleFile: Boolean, partitionBy: Seq[String],
                               sortBy: Seq[String])

  def writeConfig(config: Map[String, Any]): WriteConfig =
    config.get("write") match {
      case Some(m: Map[_, _]) =>
        val w = m.asInstanceOf[Map[String, Any]]
        def cols(key: String): Seq[String] = w.get(key)
          .collect { case s: Seq[_] => s.map(_.toString) }.getOrElse(Seq.empty)
        WriteConfig(
          singleFile = w.get("single_file").forall(_ == true),
          partitionBy = cols("partition_by"),
          sortBy = cols("sort_by"))
      case _ => WriteConfig(singleFile = true, Seq.empty, Seq.empty)
    }

  /** Subprocess escape hatch, argv contract `[script, deps..., out]`
    * (tables.py:119-129, 142-152) — existing shelf repos' Python steps
    * run unmodified.
    */
  private def execSubprocess(root: Path, script: Path, deps: Seq[StepURI],
                             dest: Path): Unit = {
    val interpreter =
      if (script.toString.endsWith(".py")) Seq("python3") else Seq.empty
    val cmd = interpreter ++ Seq(script.toString) ++
      deps.map(dependencyPath(root, _).toString) :+ dest.toString
    val proc = new ProcessBuilder(cmd.asJava).inheritIO().start()
    val code = proc.waitFor()
    require(code == 0, s"step process exited with $code: ${cmd.mkString(" ")}")
  }

  /** Delete a file or directory tree (partitioned outputs are dirs). */
  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      if (Files.isDirectory(p)) {
        val walk = Files.walk(p)
        val all = try walk.iterator().asScala.toVector finally walk.close()
        all.reverse.foreach(Files.deleteIfExists(_))
      } else Files.delete(p)
    }

  def dependencyPath(root: Path, uri: StepURI): Path =
    if (uri.scheme == "table") tablePath(root, uri)
    else Snapshots.load(root, uri).dataPath(root)

  private val CsvOptions = Map("header" -> "true")

  /** Read a snapshot's data by extension: parquet (through the
    * stat-keyed [[graft.api.SchemaMemo]]: no schema-inference job), csv,
    * json or text. A CSV's schema is inferred once per `sha256` (the
    * snapshot's recorded checksum of its content) through
    * [[graft.api.SchemaMemo.csvSchema]], and given to the reader after
    * that.
    */
  def readSnapshot(spark: SparkSession, path: String, sha256: String): DataFrame =
    if (path.endsWith(".parquet")) SchemaMemo.read(spark, path)
    else if (path.endsWith(".csv")) {
      val csv = spark.read.options(CsvOptions)
      csv.schema(SchemaMemo.csvSchema(spark, sha256, CsvOptions)(
        csv.option("inferSchema", "true").csv(path).schema)).csv(path)
    }
    else if (path.endsWith(".json")) spark.read.json(path)
    else spark.read.text(path)

  /** Spark writes a directory of part files; the shelf contract is ONE
    * parquet file per table (tables.py:26). Write `coalesce(1)` to a
    * temp dir, then atomically move the part file into place. At cluster
    * scale you'd flip `singleFile=false` and store a directory + manifest
    * (SURVEY.md §7.3(3)) — the sidecar checksum logic already handles
    * both via the manifest fold.
    */
  def writeSingleParquet(df: DataFrame, dest: Path): Unit = {
    val tmp = Files.createTempDirectory(dest.getParent, ".build_")
    try {
      df.coalesce(1).write.mode("overwrite")
        .parquet(tmp.resolve("out").toString)
      val part = Files.list(tmp.resolve("out")).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.headOption.getOrElse(
          throw new IllegalStateException("no parquet part file written"))
      Files.move(part, dest, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally {
      Files.walk(tmp).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  /** Post-build metadata (table_metadata.py:180-204): inheritance →
    * validation (fail ⇒ delete output) → sidecar with checksum, schema,
    * input manifest, execution block.
    */
  private def processMetadata(spark: SparkSession, root: Path, uri: StepURI,
                              deps: Seq[StepURI], script: ScriptRef,
                              dest: Path, runtime: Map[String, Any]): Unit = {
    val config = loadConfig(script)
    val inherited = Metadata.resolveInheritance(root, config, deps)
    // through the memo: this read seeds it for the file just written, so
    // downstream steps and db views in this session resolve it for free
    val df = SchemaMemo.read(spark, dest.toString)
    val errors = Metadata.validate(df, config)
    if (errors.nonEmpty)
      throw new IllegalArgumentException(
        s"Table validation failed for $uri:\n${errors.mkString("\n")}")

    val overrides = config.get("override")
      .collect { case m: Map[_, _] => m.asInstanceOf[Map[String, Any]] }
      .getOrElse(Map.empty[String, Any])
    val schema = df.schema.fields
      .map(f => f.name -> Metadata.sparkTypeName(f.dataType)).toMap
    val doc = inherited ++ overrides ++ Map[String, Any](
      "uri" -> uri.toString,
      "version" -> 1,
      "checksum" -> (if (Files.isDirectory(dest))
        Checksums.checksumManifest(Checksums.checksumFolder(dest))
      else Checksums.checksumFile(dest)),
      "schema" -> schema,
      "input_manifest" -> Metadata.inputManifest(root, script, deps),
      "execution" -> runtime)
    // validate-before-save (tables.py:253). Two documented repo
    // extensions ride beyond table-v1's additionalProperties:false:
    // `execution` (the A21 runtime block) and `description` (the
    // reference's own inherit/override surface carries description, but
    // its table-v1 schema omits the property — we keep the field).
    Schemas.ensure(Schemas.pruneNulls(doc), Schemas.TableV1,
      Snapshots.metadataPath(root, uri).toString,
      allowExtra = Set("execution", "description"))
    Yaml.save(Snapshots.metadataPath(root, uri), doc)
  }

  /** Audit for cluster-scale DIRECTORY table outputs: recompute the
    * folder manifest fold and compare against the sidecar checksum —
    * the table twin of [[Snapshots.audit]]. The reference audits only
    * directory snapshots (tables have no directory form there), so
    * single-file tables are skipped to preserve its semantics; a
    * directory table only exists via the `write.single_file: false`
    * extension and gets the same bit-rot detection its multi-file
    * snapshots enjoy.
    */
  def audit(root: Path, uri: StepURI, fix: Boolean): Either[String, Unit] = {
    if (uri.scheme != "table") return Right(())
    val out = tablePath(root, uri)
    val metaPath = Snapshots.metadataPath(root, uri)
    if (!Files.isDirectory(out) || !Files.exists(metaPath)) Right(())
    else {
      val doc = Yaml.load(metaPath)
      val recorded = doc.get("checksum").map(_.toString).getOrElse("")
      // folderManifest (not checksumFolder): an emptied-out table dir
      // must REPORT as a mismatch, not crash the audit run
      val fold = Checksums.checksumManifest(Checksums.folderManifest(out))
      if (fold == recorded) Right(())
      else if (!fix)
        Left(s"$uri: checksum mismatch (recorded $recorded, actual $fold)")
      else {
        Yaml.save(metaPath, doc ++ Map[String, Any]("checksum" -> fold))
        Right(())
      }
    }
  }

  /** Table staleness (tables.py:21-48): output + sidecar exist, every
    * input manifest entry re-hashes to its recorded value.
    */
  def isCompleted(root: Path, uri: StepURI): Boolean = {
    val out = tablePath(root, uri)
    val metaPath = Snapshots.metadataPath(root, uri)
    if (!Files.exists(out) || !Files.exists(metaPath)) return false
    val doc = Yaml.load(metaPath)
    val manifest = doc.get("input_manifest") match {
      case Some(m: Map[_, _]) =>
        m.asInstanceOf[Map[String, Any]].map { case (k, v) => k -> v.toString }
      case _ => return false
    }
    Metadata.manifestFresh(manifest)
  }
}
