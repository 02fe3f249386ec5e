package graftbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.shelf.{Checksums, Naming, Shelf, StepURI, Store, Yaml}

/** Seeded raw inputs for the shelf workload: parquet files, CSV files
  * and one directory snapshot of JSONL parts. Every row is
  * (id, cust, amount, day, note); `amount` is in cents and some rows are
  * non-positive, which the clean steps drop.
  */
object ShelfInputs {
  val ParquetFiles = 12
  val CsvFiles = 11
  val JsonParts = 8
  val ParquetRows = 40000
  val CsvRows = 20000
  val JsonRows = 8000
  val Customers = 3000
  /** JSONL notes come from a small vocabulary, so exact dedup has work. */
  val JsonNotes = 5000
  val JsonSchema = "id BIGINT, cust INT, amount BIGINT, day INT, note STRING"

  def parquetName(k: Int) = f"p$k%02d"
  def csvName(k: Int) = f"c$k%02d"
  val DirName = "events"

  /** Input names in ingest order; the file extension is part of each. */
  def names: Seq[String] =
    (0 until ParquetFiles).map(parquetName(_) + ".parquet") ++
      (0 until CsvFiles).map(csvName(_) + ".csv") :+ DirName

  private def mix(seed: Long, salt: Long): Long =
    new SplittableRandom(seed * 1000003L + salt).nextLong()

  /** Write every input under `dir`; the same seed gives the same bytes. */
  def generate(spark: SparkSession, dir: Path, seed: Long): Unit = {
    Files.createDirectories(dir)
    writeParquet(spark, dir, (0 until ParquetFiles).map(k => k -> mix(seed, k)))
    (0 until CsvFiles).foreach(k => writeCsv(dir.resolve(csvName(k) + ".csv"),
      mix(seed, 100 + k)))
    writeJsonDir(dir.resolve(DirName), mix(seed, 200))
  }

  /** One Spark job writes all requested parquet files: each range
    * partition is one file, rows in id order, values a pure function of
    * (file seed, id), so the bytes are reproducible.
    */
  private def writeParquet(spark: SparkSession, dir: Path,
                           files: Seq[(Int, Long)]): Unit = {
    val tmp = dir.resolve(".parquet_tmp")
    Main.deleteTree(tmp)
    val seeds = files.map(_._2)
    val fileSeed = seeds.indices.foldLeft(lit(0L)) { (acc, i) =>
      when(col("f") === i, lit(seeds(i))).otherwise(acc) }
    val h = (salt: Int) => xxhash64(col("fs"), col("id"), lit(salt))
    spark.range(0L, files.size.toLong * ParquetRows, 1L, files.size)
      .withColumn("f", (col("id") / ParquetRows).cast("int"))
      .withColumn("fs", fileSeed)
      .select(col("f"), col("id"),
        pmod(h(1), lit(Customers.toLong)).cast("int").as("cust"),
        (pmod(h(2), lit(100500L)) - 500L).as("amount"),
        pmod(h(3), lit(365L)).cast("int").as("day"),
        substring(hex(h(4)), 1, 16).as("note"))
      .write.partitionBy("f").parquet(tmp.toString)
    files.zipWithIndex.foreach { case ((k, _), i) =>
      val part = Files.list(tmp.resolve(s"f=$i")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.move(part, dir.resolve(parquetName(k) + ".parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    Main.deleteTree(tmp)
  }

  private def row(r: SplittableRandom, id: Long): (Long, Int, Long, Int, String) =
    (id, r.nextInt(Customers), r.nextLong(100500L) - 500L, r.nextInt(365),
      f"${r.nextLong()}%016x")

  /** Also a touch of the source data: the same file, new content. */
  def writeCsv(file: Path, salt: Long): Unit = {
    val r = new SplittableRandom(salt)
    val b = new StringBuilder("id,cust,amount,day,note\n")
    (0 until CsvRows).foreach { i =>
      val (id, c, a, d, n) = row(r, i)
      b ++= s"$id,$c,$a,$d,$n\n"
    }
    Files.writeString(file, b)
  }

  private def writeJsonDir(dir: Path, salt: Long): Unit = {
    Main.deleteTree(dir)
    Files.createDirectories(dir)
    val r = new SplittableRandom(salt)
    (0 until JsonParts).foreach { p =>
      val b = new StringBuilder
      (0 until JsonRows).foreach { i =>
        val (id, c, a, d, _) = row(r, p.toLong * JsonRows + i)
        val n = f"n${r.nextInt(JsonNotes)}%05d"
        b ++= s"""{"id":$id,"cust":$c,"amount":$a,"day":$d,"note":"$n"}""" + "\n"
      }
      Files.writeString(dir.resolve(f"part-$p%02d.jsonl"), b)
    }
  }

  /** The report computed straight from the raw inputs, bypassing shelf:
    * bucket -> (Σ amount, row count) over rows with amount > 0.
    */
  def directReport(spark: SparkSession, dir: Path): Map[Int, (Long, Long)] = {
    val pq = spark.read.parquet((0 until ParquetFiles)
      .map(k => dir.resolve(parquetName(k) + ".parquet").toString): _*)
      .select(col("cust"), col("amount"))
    val csv = spark.read.option("header", "true")
      .schema("id BIGINT, cust INT, amount BIGINT, day INT, note STRING")
      .csv((0 until CsvFiles).map(k => dir.resolve(csvName(k) + ".csv").toString): _*)
      .select(col("cust"), col("amount"))
    val js = spark.read.schema(JsonSchema).json(dir.resolve(DirName).toString).select(col("cust"), col("amount"))
    pq.unionByName(csv).unionByName(js).where(col("amount") > 0)
      .groupBy(pmod(col("cust"), lit(16)).as("bucket"))
      .agg(sum("amount"), count(lit(1))).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
  }
}

/** `shelf_incremental`: ingest every input, build a 4-layer DAG of SQL
  * table steps (plus two operator-module steps) cold, then loop: a no-op
  * run, a touch (re-snapshot one input with new content, run) and one
  * `Shelf.db` query.
  */
final class ShelfWorkload(seed: Long) extends Workload {
  import ShelfInputs._
  val Version = "2024-01-01"
  val L1 = 6
  val L2 = 3
  val L3 = 1

  private var shelf: Shelf = _
  private var inputs: Path = _
  private var touchOrder: IndexedSeq[String] = _
  private val l1Inputs: IndexedSeq[Seq[String]] = {
    val ps = (0 until ParquetFiles).map(parquetName(_) + ".parquet")
    val cs = (0 until CsvFiles).map(csvName(_) + ".csv") :+ DirName
    (0 until L1).map(i => Seq(ps(2 * i), ps(2 * i + 1), cs(2 * i), cs(2 * i + 1)))
  }

  private def rawUri(name: String) = s"raw/${name.takeWhile(_ != '.')}/$Version"
  private def tableUri(layer: String, i: Int) = f"$layer/$layer$i%02d/$Version"
  private val reportUri = s"report/summary/$Version"
  private val profileUri = s"ops/profile/$Version"
  private val dedupUri = s"ops/dedup/$Version"
  private def snake(uri: String) = Naming.pathToSnake(uri)

  /** SQL steps as (uri, deps, sql): clean/aggregate over four inputs,
    * pairwise full joins, unions of two joins, one report.
    */
  private val sqlSteps: Seq[(String, Seq[String], String)] = {
    val l1 = (0 until L1).map { i =>
      val deps = l1Inputs(i)
      val parts = deps.map { n =>
        val ref = s"{${n.takeWhile(_ != '.')}}"
        if (n.endsWith(".parquet")) s"SELECT cust, amount FROM $ref"
        else if (n.endsWith(".csv"))
          s"SELECT CAST(cust AS INT) AS cust, CAST(amount AS BIGINT) AS amount FROM $ref"
        else "SELECT CAST(get_json_object(value, '$.cust') AS INT) AS cust, " +
          s"CAST(get_json_object(value, '$$.amount') AS BIGINT) AS amount FROM $ref"
      }
      (tableUri("clean", i), deps.map(n => "snapshot://" + rawUri(n)),
        s"SELECT cust, SUM(amount) AS amount, COUNT(*) AS n FROM (\n" +
          parts.mkString("\nUNION ALL\n") + "\n) WHERE amount > 0 GROUP BY cust")
    }
    val l2 = (0 until L2).map { j =>
      val (a, b) = (f"clean${2 * j}%02d", f"clean${2 * j + 1}%02d")
      (tableUri("join", j), Seq(2 * j, 2 * j + 1).map(k => "table://" + tableUri("clean", k)),
        s"SELECT COALESCE(a.cust, b.cust) AS cust, " +
          "COALESCE(a.amount, 0) + COALESCE(b.amount, 0) AS amount, " +
          "COALESCE(a.n, 0) + COALESCE(b.n, 0) AS n " +
          s"FROM {$a} a FULL OUTER JOIN {$b} b ON a.cust = b.cust")
    }
    val per = L2 / L3
    val l3 = (0 until L3).map { u =>
      val js = u * per until (u + 1) * per
      (tableUri("union", u), js.map(j => "table://" + tableUri("join", j)),
        "SELECT cust, SUM(amount) AS amount, SUM(n) AS n FROM (" +
          js.map(j => f"SELECT * FROM {join$j%02d}").mkString(" UNION ALL ") +
          ") GROUP BY cust")
    }
    val l4 = Seq((reportUri, (0 until L3).map(u => "table://" + tableUri("union", u)),
      "SELECT CAST(pmod(cust, 16) AS INT) AS bucket, SUM(amount) AS amount, SUM(n) AS n FROM (" +
        (0 until L3).map(u => f"SELECT * FROM {union$u%02d}").mkString(" UNION ALL ") +
        ") GROUP BY 1"))
    l1 ++ l2 ++ l3 ++ l4
  }

  /** Operator-module steps, registered as Scala table steps: a column
    * profile of the CSV inputs, and exact dedup of the JSONL events.
    * Every touch goes to a CSV input, so the profile reruns in every
    * touch cycle; the dedup runs in the cold build.
    */
  private val csvInputs = (0 until CsvFiles).map(csvName(_) + ".csv")
  private val opSteps: Seq[(String, Seq[String])] = Seq(
    profileUri -> csvInputs.map(n => "snapshot://" + rawUri(n)),
    dedupUri -> Seq("snapshot://" + rawUri(DirName)))

  private def registerOpSteps(): Unit = {
    import graft.shelf.{StepRegistry, Tables}
    StepRegistry.register(profileUri, "2") { (spark, deps, out) =>
      Tables.writeSingleParquet(graft.api.Profile.profile(
        spark.read.option("header", "true").schema(JsonSchema).csv(deps.map(_.toString): _*),
        Seq("cust", "amount", "day")), out)
    }
    StepRegistry.register(dedupUri, "1") { (spark, deps, out) =>
      Tables.writeSingleParquet(graft.api.Dedup.dropExactDuplicates(
        spark.read.schema(JsonSchema).json(deps.head.toString), "id", "note"), out)
    }
  }

  private lazy val allDeps: Map[String, Seq[String]] =
    (sqlSteps.map(s => s._1 -> s._2) ++ opSteps).toMap

  /** Every table that (transitively) depends on `dep`. */
  private def descendants(dep: String): Set[String] = {
    val direct = allDeps.collect { case (t, ds) if ds.contains(dep) => t }.toSet
    direct ++ direct.flatMap(t => descendants("table://" + t))
  }

  def setUp(rec: Recorder, dir: Path): Unit = {
    // earlier repetitions are done with; only the last set-up is measured
    Option(inputs).foreach(p => Main.deleteTree(p.getParent))
    inputs = dir.resolve("inputs")
    generate(rec.spark, inputs, seed)
    // Touches go in a seeded order to the CSV inputs whose clean step
    // reads only parquet and CSV (all but the last, which shares its step
    // with the JSONL events), so every touch rebuilds the same shape of
    // steps whatever the seed; the other inputs are re-hashed by every
    // plan but only ingested once.
    val r = new SplittableRandom(seed)
    val order = l1Inputs.flatten.filter(n => n.endsWith(".csv") &&
      !l1Inputs.exists(g => g.contains(n) && g.contains(DirName))).toArray
    (order.length - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1); val t = order(i); order(i) = order(j); order(j) = t }
    touchOrder = order.toIndexedSeq
    shelf = newShelf(rec, dir.resolve("shelf"), dir)
    names.foreach(n => shelf.snapshot(inputs.resolve(n), rawUri(n)))
    addSteps(shelf, sqlSteps)
  }

  private def newShelf(rec: Recorder, root: Path, dir: Path): Shelf = {
    Files.createDirectories(root)
    val store = new Store(dir.resolve("store-remote").toUri.toString.stripSuffix("/"),
      dir.resolve("store-cache"))
    val spark = rec.spark
    new Shelf(root, () => spark, Some(store))
  }

  private def addSteps(sh: Shelf, sql: Seq[(String, Seq[String], String)]): Unit = {
    sql.foreach { case (uri, deps, text) =>
      val script = sh.root.resolve("src/steps/tables").resolve(uri + ".sql")
      Files.createDirectories(script.getParent)
      Files.writeString(script, text + "\n")
      sh.newTable(uri, deps.map(StepURI.parse))
    }
    registerOpSteps()
    opSteps.foreach { case (uri, deps) => sh.newTable(uri, deps.map(StepURI.parse)) }
  }

  def warmUp(rec: Recorder): Unit = {
    // untimed: a small build, a touch and a query on a throwaway shelf,
    // so the measured cycles pay for the DAG, not for JIT and class
    // loading
    val dir = inputs.getParent.resolve("warmup")
    val sh = newShelf(rec, dir.resolve("shelf"), dir)
    // the operator steps read every CSV input and the events
    names.filter(n => l1Inputs(0).contains(n) || csvInputs.contains(n) || n == DirName)
      .foreach(n => sh.snapshot(inputs.resolve(n), rawUri(n)))
    addSteps(sh, sqlSteps.take(1))
    sh.run()
    val touched = l1Inputs(0).find(_.endsWith(".csv")).get
    writeCsv(dir.resolve(touched), seed * 7919L - 1)
    sh.snapshot(dir.resolve(touched), rawUri(touched), force = true)
    sh.run()
    sh.db(s"SELECT COUNT(*) FROM ${snake(tableUri("clean", 0))}").collect()
    Main.deleteTree(dir)
  }

  private var cold = true
  private var noopRuns = Seq.empty[Double]

  def cycle(rec: Recorder, i: Int): Unit = {
    val t = rec.tracer
    val tables = allDeps.size
    if (cold) {
      cold = false
      val built = rec.op("cold_run")(shelf.run()).getOrElse(Nil)
      rec.check("cold run builds every table", built.count(_.scheme == "table") == tables,
        s"built ${built.size}")
      lastRun = ("cold", built, rec.ops.last.ms / 1000, "")
      return
    }
    // no-op run: nothing changed, so planning (re-hashing every input) is all
    rec.op("noop_run")(shelf.run()).foreach { s =>
      rec.check("no-op run rebuilds nothing", s.isEmpty, s.mkString(","))
      if (t.enabled) rec.sample("shelf.rehash_bytes", rec.ops.last.readBytes.toDouble)
      noopRuns :+= rec.ops.last.ms / 1000
    }

    // touch: new content for one seeded input, re-snapshot, run
    val name = touchOrder((i - 1) % touchOrder.size)
    writeCsv(inputs.resolve(name), seed * 7919L + i)
    rec.op("snapshot")(shelf.snapshot(inputs.resolve(name), rawUri(name), force = true))
    val rebuilt = rec.op("touch_run")(shelf.run()).getOrElse(Nil)
    val want = descendants("snapshot://" + rawUri(name))
    rec.check("touch rebuilds exactly the descendants",
      rebuilt.filter(_.scheme == "table").map(_.path).toSet == want,
      s"touched $name rebuilt ${rebuilt.mkString(",")} want ${want.mkString(",")}")
    lastRun = ("touch", rebuilt, rec.ops.last.ms / 1000, name)

    // db: one query over the built tables
    val q = dbQueries((i - 1) % dbQueries.size)
    rec.op("db_query") {
      if (!t.enabled) shelf.db(q).collect()
      else {
        // the two halves of Shelf.db, timed apart: the same work
        val (_, reg) = rec.timed(graft.shelf.Db.registerViews(rec.spark,
          shelf.root, shelf.tablePaths, "both"))
        val (_, ex) = rec.timed(rec.spark.sql(q).collect())
        rec.sample("shelf.db.register_s", reg)
        rec.sample("shelf.db.exec_s", ex)
      }
    }
  }

  private def dbQueries: IndexedSeq[String] = IndexedSeq(
    s"SELECT bucket, amount, n FROM ${snake(reportUri)} ORDER BY bucket",
    s"SELECT COUNT(*), SUM(amount) FROM ${snake(tableUri("union", 0))}",
    s"SELECT cust, amount FROM ${snake(tableUri("join", 1))} ORDER BY amount DESC, cust LIMIT 20",
    s"SELECT COUNT(*) FROM ${snake(tableUri("clean", 2))} a JOIN " +
      s"${snake(tableUri("clean", 3))} b USING (cust) WHERE a.amount > b.amount")

  /** The cycle's building run: phase, steps built, wall (s), and the
    * input it touched ("" for the cold run).
    */
  private var lastRun: (String, Seq[StepURI], Double, String) = ("", Nil, 0.0, "")

  /** Per-layer split of a traced cycle's building run, taken after the
    * cycle: the steps rebuilt, Σ of their recorded execution time, and
    * the rest of the run beyond planning (taken as the median no-op run)
    * and execution. Then the hash time of the touched input on its own.
    */
  override def probe(rec: Recorder, i: Int, before: Boolean): Unit =
    if (!before) {
      val (phase, built, runS, touched) = lastRun
      val tables = built.filter(_.scheme == "table")
      val exec = tables.map { u =>
        val doc = Yaml.load(graft.shelf.Snapshots.metadataPath(shelf.root, u))
        doc.get("execution").collect { case m: Map[_, _] =>
          m.asInstanceOf[Map[String, Any]].get("duration_seconds")
            .map(_.toString.toDouble).getOrElse(0.0) }.getOrElse(0.0)
      }.sum
      rec.sample(s"shelf.$phase.steps_rebuilt", tables.size.toDouble)
      rec.sample(s"shelf.$phase.exec_s", exec)
      val plan = if (noopRuns.isEmpty) 0.0 else Stats.median(noopRuns)
      rec.sample(s"shelf.$phase.overhead_s", runS - plan - exec)
      if (touched.nonEmpty) {
        val f = inputs.resolve(touched)
        val (_, h) = rec.timed(Checksums.checksumFile(f))
        rec.sample("shelf.snapshot.hash_s", h)
        rec.sample("shelf.store.put_bytes", Files.size(f).toDouble)
      }
    }

  def finish(rec: Recorder): Unit = {
    val report = shelf.db(s"SELECT bucket, amount, n FROM ${snake(reportUri)}").collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val direct = directReport(rec.spark, inputs)
    rec.check("report equals a direct computation over the raw inputs",
      report == direct, s"report $report direct $direct")
    val notes = rec.spark.read.schema(JsonSchema).json(inputs.resolve(DirName).toString)
      .select("note").distinct().count()
    val dedup = shelf.db(s"SELECT COUNT(*) FROM ${snake(dedupUri)}").head().getLong(0)
    rec.check("dedup keeps one row per distinct note", dedup == notes,
      s"dedup $dedup distinct $notes")
    val audit = shelf.audit()
    rec.check("audit is clean", audit.isEmpty, audit.mkString("; "))
    rec.values("input_bytes") = Main.treeBytes(inputs).toDouble
    rec.values("inputs") = names.size
    rec.values("table_steps") = allDeps.size
  }
}
