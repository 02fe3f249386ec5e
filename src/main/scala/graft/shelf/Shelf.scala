package graft.shelf

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shelf engine: content-addressed data lake + Merkle incremental
  * build DAG, with Spark as the execution engine for table steps.
  *
  * Reference: /root/reference/src/shelf/__init__.py (plan_and_run
  * :243-270, snapshot_to_shelf :188-221, execute_query :364-400,
  * export :285-312, audit :315-350, list :224-240).
  */
final class Shelf(val root: Path, sparkProvider: () => SparkSession,
                  storeOverride: Option[Store] = None) {

  var catalog: Catalog =
    if (Files.exists(root.resolve("shelf.yaml"))) Catalog.load(root)
    else Catalog.init(root)

  lazy val store: Store = storeOverride.getOrElse(Store.forRoot(root))
  private lazy val spark: SparkSession = sparkProvider()

  // ---------------- snapshot (§3.3) ----------------

  /** Ingest a file/directory; re-snapshot preserves prior provenance
    * minus volatile fields (__init__.py:198-206).
    */
  def snapshot(source: Path, datasetName: String, force: Boolean = false,
               today: java.time.LocalDate = java.time.LocalDate.now()): StepURI = {
    val versioned = StepURI.maybeAddVersion(datasetName, today)
    val uri = StepURI.snapshot(versioned)
    val metaPath = Snapshots.metadataPath(root, uri)
    val preserved: Map[String, Any] =
      if (Files.exists(metaPath)) {
        if (!force)
          throw new IllegalStateException(
            s"$uri already exists; use force to overwrite")
        Yaml.load(metaPath) -- Seq("checksum", "manifest", "date_accessed",
          "uri", "version", "snapshot_type", "extension")
      } else Map.empty
    Snapshots.create(root, source, uri, store, preserved)
    catalog = catalog.addStep(uri)
    catalog.save()
    uri
  }

  /** Reload shelf.yaml from disk (reference `shelf.refresh()` — picks up
    * external edits before planning, __init__.py:250).
    */
  def refresh(): Unit = { catalog = Catalog.load(root) }

  // ---------------- run (§3.1) ----------------

  def isCompleted(uri: StepURI): Boolean = uri.scheme match {
    case "snapshot" =>
      Files.exists(Snapshots.metadataPath(root, uri)) &&
        Snapshots.load(root, uri).isFresh(root)
    case "table" => Tables.isCompleted(root, uri)
  }

  /** Plan: resolve latest → regex prune (ancestors+descendants) →
    * completed prune (unless force) → topo order.
    */
  def plan(regex: Option[String] = None, force: Boolean = false): Seq[StepURI] = {
    var dag = Dag.resolveLatest(catalog.dag)
    regex.foreach(r => dag = Dag.pruneWithRegex(dag, r))
    if (!force) dag = Dag.pruneCompleted(dag, isCompleted)
    Dag.topoSort(dag).filter(dag.contains)
  }

  /** Execute the planned steps; each table step is one Spark job graph.
    * The reference executes strictly sequentially (steps.py:67-94); with
    * Spark, independent steps can share the cluster, so `parallelism > 1`
    * runs each dependency wave concurrently (Spark schedules concurrent
    * jobs from multiple threads). Default stays sequential for
    * reference-parity of logs/failure order.
    */
  def run(regex: Option[String] = None, force: Boolean = false,
          dryRun: Boolean = false, parallelism: Int = 1): Seq[StepURI] = {
    refresh()
    val resolved = Dag.resolveLatest(catalog.dag)
    val steps = plan(regex, force)

    def execute(step: StepURI): Unit = step.scheme match {
      case "snapshot" =>
        val snap = Snapshots.load(root, step)
        if (!snap.isFresh(root)) snap.fetch(root, store)
      case "table" =>
        Tables.buildTable(spark, root, step, resolved.getOrElse(step, Seq.empty))
    }

    if (!dryRun) {
      if (parallelism <= 1) steps.foreach(execute)
      else {
        // Waves = longest-path depth; steps within a wave are independent.
        val stepSet = steps.toSet
        val depth = scala.collection.mutable.Map[StepURI, Int]()
        steps.foreach { s => // steps are already topo-ordered
          val deps = resolved.getOrElse(s, Seq.empty).filter(stepSet)
          depth(s) = if (deps.isEmpty) 0 else deps.map(depth).max + 1
        }
        import java.util.concurrent.Executors
        import scala.concurrent._
        import scala.concurrent.duration.Duration
        val pool = Executors.newFixedThreadPool(parallelism)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        try steps.groupBy(depth).toSeq.sortBy(_._1).foreach { case (_, wave) =>
          Await.result(Future.sequence(wave.map(s => Future(execute(s)))), Duration.Inf)
        } finally pool.shutdown()
      }
    }
    steps
  }

  // ---------------- list / audit ----------------

  def list(regex: Option[String] = None, paths: Boolean = false): Seq[String] = {
    val uris = catalog.steps.keys.toSeq.sorted
    val filtered = regex match {
      case Some(r) => val re = r.r; uris.filter(u => re.findFirstIn(u.toString).isDefined)
      case None => uris
    }
    if (paths) filtered.map(u => Tables.dependencyPath(root, u).toString)
    else filtered.map(_.toString)
  }

  def audit(fix: Boolean = false): Seq[String] =
    catalog.steps.keys.toSeq.sorted.flatMap { uri =>
      // reference semantics: directory snapshots re-fold their manifest
      // (__init__.py:324-350, tables skipped). File snapshots re-hash
      // too: staleness checks trust unchanged stats (StatCache), so
      // audit is the one command that reads every byte and catches bit
      // rot. Directory TABLES are this engine's cluster-scale extension
      // (write.single_file: false), so they get the symmetric
      // manifest-fold audit; single-file tables stay exempt, exactly
      // like the reference.
      if (uri.scheme == "snapshot") Snapshots.audit(root, uri, fix, store).left.toOption
      else Tables.audit(root, uri, fix).left.toOption
    }

  // ---------------- db (§3.2) ----------------

  def tablePaths: Seq[String] =
    catalog.steps.keys.toSeq.sorted.filter(_.scheme == "table").map(_.path)

  /** Register a view per table (+ unique aliases) over its parquet, then
    * run the query. Bare word ⇒ `SELECT * FROM word` (__init__.py:364-400).
    */
  def db(query: String, names: String = "both"): DataFrame =
    Db.execute(spark, root, tablePaths, query, names)

  /** Export every table as `<snake>.parquet` in destDir plus a manifest
    * of checksums and aliases — the Spark-native container swap for the
    * reference's single .duckdb file (__init__.py:285-312; SURVEY.md A18).
    */
  def export(destDir: Path): Unit = {
    run()
    Files.createDirectories(destDir)
    val entries = tablePaths.map { p =>
      val src = Tables.tablePath(root, StepURI.table(p))
      val name = Naming.pathToSnake(p)
      val dest = destDir.resolve(s"$name.parquet")
      Files.copy(src, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      name -> Checksums.checksumFile(dest)
    }
    val aliases = Naming.tableAliases(tablePaths)
      .filter { case (a, n) => a != n }
      .map { case (a, n) => a -> (n: Any) }.toMap
    Yaml.save(destDir.resolve("manifest.yaml"), Map(
      "tables" -> entries.toMap, "aliases" -> aliases))
  }

  /** Reference-parity `export-duckdb` (__init__.py:285-312): when the
    * `duckdb` CLI is on PATH, materialize a real `.duckdb` database —
    * one `CREATE OR REPLACE TABLE` per built table reading its parquet,
    * then (with `short`, parity with the reference flag) rename each
    * table to its best alias. Returns true when the `.duckdb` file was
    * produced; false when no CLI is available, in which case the caller
    * falls back to [[export]]'s parquet+manifest container (the
    * documented container swap for CLI-less environments).
    */
  def exportDuckdb(dbFile: Path, short: Boolean = false,
                   cli: Option[String] = None): Boolean =
    cli.orElse(Shelf.duckdbCli()) match {
      case None => false
      case Some(cli) =>
        run()
        def qid(n: String) = "\"" + n.replace("\"", "\"\"") + "\""
        def qstr(s: String) = "'" + s.replace("'", "''") + "'"
        val creates = tablePaths.map { p =>
          val name = Naming.pathToSnake(p)
          val src = Tables.tablePath(root, StepURI.table(p))
          s"CREATE OR REPLACE TABLE ${qid(name)} AS " +
            s"SELECT * FROM read_parquet(${qstr(src.toString)});"
        }
        val tableNames = tablePaths.map(Naming.pathToSnake).toSet
        val renames =
          if (!short) Seq.empty
          else Naming.tableAliases(tablePaths)
            .filter { case (alias, name) => alias != name }
            // an alias that IS another exported table's snake name must
            // not be applied: the reference's DROP-then-RENAME would
            // silently destroy that sibling table's data (a versioned
            // best alias like `b_20260101` can collide with the real
            // table built from `b/2026-01-01`)
            .filter { case (alias, _) => !tableNames.contains(alias) }
            .flatMap { case (alias, name) => Seq(
              s"DROP TABLE IF EXISTS ${qid(alias)};",
              s"ALTER TABLE ${qid(name)} RENAME TO ${qid(alias)};") }
        Files.deleteIfExists(dbFile)
        if (dbFile.getParent != null) Files.createDirectories(dbFile.getParent)
        // the statements travel via a temp .sql script + `.read`, not
        // the CLI's stdin: feeding a pipe while the CLI emits output
        // can deadlock once either side fills its ~64 KB buffer, and a
        // PrintWriter would swallow the broken-pipe error silently
        val script = Files.createTempFile("graft-export", ".sql")
        val (code, out) = try {
          Files.writeString(script,
            (creates ++ renames).mkString("", "\n", "\n"))
          val proc = new ProcessBuilder(cli, dbFile.toString,
              s".read $script")
            .redirectErrorStream(true).start()
          proc.getOutputStream.close()
          // drain stdout to EOF BEFORE waitFor so a chatty CLI can
          // never block on a full pipe
          val o = new String(proc.getInputStream.readAllBytes())
          (proc.waitFor(), o)
        } finally Files.deleteIfExists(script)
        if (code != 0) {
          // never leave a half-written database masquerading as a
          // successful export
          Files.deleteIfExists(dbFile)
          throw new IllegalStateException(s"duckdb CLI exited $code:\n$out")
        }
        true
    }

  /** Scaffold a new SQL table step (reference `shelf new-table`). */
  def newTable(datasetName: String, deps: Seq[StepURI],
               today: java.time.LocalDate = java.time.LocalDate.now()): StepURI = {
    val versioned = StepURI.maybeAddVersion(datasetName, today)
    val uri = StepURI.table(versioned)
    val script = Tables.scriptDir(root).resolve(uri.path + ".sql")
    if (!Files.exists(script)) {
      Files.createDirectories(script.getParent)
      val hints = Naming.simplifyDependencyNames(
        deps.map(d => Tables.dependencyPath(root, d).toString)).keys.toSeq.sorted
      val body = hints match {
        case Seq() => "SELECT 1 AS dim_col1, 2 AS col2"
        case names => names.map(n => s"SELECT * FROM {$n}").mkString("\n-- ")
      }
      Files.writeString(script, s"-- table step for $uri\n$body\n")
    }
    catalog = catalog.addStep(uri, deps)
    catalog.save()
    uri
  }
}

object Shelf {
  def apply(root: Path, spark: SparkSession): Shelf = new Shelf(root, () => spark)

  /** The `duckdb` CLI binary, if one is on PATH (none ships in this
    * container — the fallback parquet container is the tested path
    * there; environments with the CLI get a real `.duckdb` artifact).
    */
  private[graft] def duckdbCli(): Option[String] =
    sys.env.getOrElse("PATH", "")
      .split(java.io.File.pathSeparatorChar).iterator
      .filter(_.nonEmpty)
      .map(p => java.nio.file.Paths.get(p, "duckdb"))
      .find(Files.isExecutable)
      .map(_.toString)

  def defaultSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("shelf")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
