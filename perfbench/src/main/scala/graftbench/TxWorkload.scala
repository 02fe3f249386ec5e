package graftbench

import java.nio.file.Path
import java.util.SplittableRandom
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.api.TxTable

/** One row of the tx table: fixed-width, so live user bytes are
  * rows x [[TxModel.RowBytes]].
  */
final case class TxRow(k: Long, v: Long, cyc: Int, pad: String)

/** The in-memory sequential model the table must match at every
  * acknowledged version. A fingerprint is (rows, Σk, Σv, Σcyc, Σcrc32(pad)):
  * order-insensitive and covering every column.
  */
final class TxModel {
  val rows = mutable.LinkedHashMap[Long, TxRow]()
  def fingerprint(keep: TxRow => Boolean = _ => true): Seq[Long] = {
    var n, sk, sv, sc, sp = 0L
    rows.valuesIterator.filter(keep).foreach { r =>
      n += 1; sk += r.k; sv += r.v; sc += r.cyc; sp += TxModel.crc(r.pad)
    }
    Seq(n, sk, sv, sc, sp)
  }
}

object TxModel {
  val PadWidth = 64
  val RowBytes = 8 + 8 + 4 + PadWidth
  val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType),
    StructField("cyc", IntegerType), StructField("pad", StringType)))

  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes("UTF-8"))
    c.getValue
  }

  /** The same fingerprint computed by Spark over a read. */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val r = df.agg(count(lit(1)), coalesce(sum("k"), lit(0L)),
      coalesce(sum("v"), lit(0L)), coalesce(sum(col("cyc").cast("long")), lit(0L)),
      coalesce(sum(crc32(col("pad").cast("binary"))), lit(0L))).head()
    (0 until 5).map(r.getLong)
  }

  def pad(r: SplittableRandom): String = {
    val cs = new Array[Char](PadWidth)
    cs.indices.foreach(i => cs(i) = ('a' + r.nextInt(26)).toChar)
    new String(cs)
  }
}

/** `tx_write_cycles`: one client on one TxTable under a TxCatalog
  * warehouse. Each cycle: append, merge (upsert), deleteWhereDv,
  * updateWhereDv, then a full and a selective read through
  * format("txtable") (V1) and through the catalog (V2); compactSmall
  * every 10th cycle. The end of the run compacts once more, then checks
  * every acknowledged version and runs expireHistory + vacuum.
  */
final class TxWorkload(seed: Long) extends Workload {
  import TxModel._
  val Catalog = "bench"
  val InitialRows = 20000
  val AppendRows = 500
  val MergeRows = 400
  val CompactEvery = 10
  val KeepVersions = 10

  private var path: String = _
  private var model: TxModel = _
  private var nextKey = 0L
  private var rnd: SplittableRandom = _
  /** acknowledged version -> fingerprint the model had at it */
  private val acked = mutable.LinkedHashMap[Long, Seq[Long]]()
  private var dvSinceCompact = 0
  /** user bytes the current cycle's commits acknowledged */
  private var cycleUserBytes = 0.0
  private var bytesBefore = 0L
  private var userBytes = 0.0
  private var createdBytes = 0.0

  private def rows(n: Int, cyc: Int): Seq[TxRow] = (0 until n).map { _ =>
    val k = nextKey; nextKey += 1
    TxRow(k, rnd.nextLong(1000000L), cyc, pad(rnd))
  }

  private def frame(s: SparkSession, rs: Seq[TxRow]): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(
      rs.map(r => Row(r.k, r.v, r.cyc, r.pad)): _*), schema)

  def setUp(rec: Recorder, dir: Path): Unit = {
    val wh = dir.resolve("warehouse")
    java.nio.file.Files.createDirectories(wh.resolve("db"))
    rec.spark.conf.set(s"spark.sql.catalog.$Catalog", "graft.api.TxCatalog")
    rec.spark.conf.set(s"spark.sql.catalog.$Catalog.warehouse", wh.toString)
    path = wh.resolve("db").resolve("t").toString
    model = new TxModel
    nextKey = 0L
    rnd = new SplittableRandom(seed)
    acked.clear()
    val init = rows(InitialRows, 0)
    val v = TxTable.append(rec.spark, path, frame(rec.spark, init))
    init.foreach(r => model.rows(r.k) = r)
    acked(v) = model.fingerprint()
  }

  def warmUp(rec: Recorder): Unit = {
    // untimed: one read through each route compiles their code paths
    fingerprint(rec.spark.read.format("txtable").load(path))
    fingerprint(rec.spark.sql(s"SELECT * FROM $Catalog.db.t"))
  }

  /** Run one committing op; on success apply `effect` to the model and
    * record the version, on failure require that no commit appeared.
    */
  private def commit(rec: Recorder, kind: String, user: Double)(body: => Long)(
      effect: => Unit): Unit = {
    val head = TxTable.latestVersion(rec.spark, path)
    rec.op(kind)(body) match {
      case Some(v) =>
        effect
        val ms = rec.ops.last.ms
        rec.sample("tx.commit_ms." + kind, ms)
        if (v > head) {
          acked(v) = model.fingerprint()
          rec.sample(if (v % TxTable.CheckpointEvery == 0) "tx.commit_ms.checkpoint"
                     else "tx.commit_ms.plain", ms)
        }
        cycleUserBytes += user
      case None =>
        val now = TxTable.latestVersion(rec.spark, path)
        rec.check(s"failed $kind leaves no visible commit", now == head,
          s"head moved $head -> $now")
    }
  }

  def cycle(rec: Recorder, c: Int): Unit = {
    val s = rec.spark
    val adds = rows(AppendRows, c)
    commit(rec, "append", adds.size * RowBytes.toDouble)(
      TxTable.append(s, path, frame(s, adds)))(adds.foreach(r => model.rows(r.k) = r))

    // upsert: half the keys already live, half new
    val live = model.rows.keysIterator.toIndexedSeq
    val old = (0 until MergeRows / 2).map(_ => live(rnd.nextInt(live.size))).distinct
      .map(k => TxRow(k, rnd.nextLong(1000000L), c, pad(rnd)))
    val ups = old ++ rows(MergeRows / 2, c)
    commit(rec, "merge", ups.size * RowBytes.toDouble)(
      TxTable.merge(s, path, frame(s, ups), Seq("k")))(ups.foreach(r => model.rows(r.k) = r))

    val dm = 97L; val dr = c % 97L
    commit(rec, "delete_dv", 0)(
      TxTable.deleteWhereDv(s, path, pmod(col("k"), lit(dm)) === dr)) {
      model.rows.filterInPlace((k, _) => Math.floorMod(k, dm) != dr)
    }
    dvSinceCompact += 1

    val um = 89L; val ur = (c * 3L) % 89L
    val hit = model.rows.valuesIterator.count(r => Math.floorMod(r.k, um) == ur)
    commit(rec, "update_dv", hit * RowBytes.toDouble)(
      TxTable.updateWhereDv(s, path, pmod(col("k"), lit(um)) === ur,
        Map("v" -> (col("v") + 1)))) {
      model.rows.mapValuesInPlace((k, r) =>
        if (Math.floorMod(k, um) == ur) r.copy(v = r.v + 1) else r)
    }
    dvSinceCompact += 1

    if (c % CompactEvery == CompactEvery - 1) {
      commit(rec, "compact", 0)(TxTable.compactSmall(s, path))(())
      dvSinceCompact = 0
    }

    // the selective range is a fixed slice of the initial keys, so it
    // prunes the same way in every cycle of every run
    val lo = 1000L
    val sel: TxRow => Boolean = r => r.k >= lo && r.k < lo + 2000
    read(rec, "v1", "full", model.fingerprint(),
      s.read.format("txtable").load(path))
    read(rec, "v1", "sel", model.fingerprint(sel),
      s.read.format("txtable").load(path).where(col("k") >= lo && col("k") < lo + 2000))
    read(rec, "v2", "full", model.fingerprint(), s.sql(s"SELECT * FROM $Catalog.db.t"))
    read(rec, "v2", "sel", model.fingerprint(sel),
      s.sql(s"SELECT * FROM $Catalog.db.t WHERE k >= $lo AND k < ${lo + 2000}"))
  }

  /** Table size and DV state around a traced cycle. The first cycle is
    * left out: its merge is the only one that succeeds, since no
    * deletion vectors are live yet.
    */
  override def probe(rec: Recorder, i: Int, before: Boolean): Unit = if (i > 0) {
    val bytes = Main.treeBytes(java.nio.file.Paths.get(path))
    if (before) {
      bytesBefore = bytes
      cycleUserBytes = 0.0
    } else {
      createdBytes += bytes - bytesBefore
      userBytes += cycleUserBytes
      val s = rec.spark
      rec.sample("tx.dv_rows", TxTable.dvStats(s, path).map(_._3).sum.toDouble)
      rec.sample("tx.live_files", s.sql(
        s"SELECT COUNT(DISTINCT _file) FROM $Catalog.db.t").head().getLong(0).toDouble)
    }
  }

  /** Timed read: building the frame (construct) and computing its
    * fingerprint (exec) are both inside the op and also timed apart.
    */
  private def read(rec: Recorder, route: String, shape: String, want: Seq[Long],
                   build: => DataFrame): Unit = {
    rec.op(s"read_${route}_$shape") {
      val (df, construct) = rec.timed(build)
      val (got, exec) = rec.timed(fingerprint(df))
      rec.sample(s"tx.read.$route.construct_ms", construct * 1000)
      rec.sample(s"tx.read.$route.exec_ms", exec * 1000)
      got
    }.foreach { got =>
      val band = dvSinceCompact match {
        case 0 => "0"; case n if n <= 10 => "1-10"; case n if n <= 30 => "11-30"
        case _ => "31+"
      }
      rec.sample(s"tx.read_ms.dv_band.$band", rec.ops.last.ms)
      rec.check(s"$route $shape read matches the model", got == want,
        s"got $got want $want")
    }
  }

  def finish(rec: Recorder): Unit = {
    val s = rec.spark
    commit(rec, "compact", 0)(TxTable.compactSmall(s, path))(())
    val bad = acked.toSeq.filter { case (v, want) =>
      scala.util.Try(fingerprint(TxTable.readVersion(s, path, v))).toOption != Some(want)
    }
    rec.check(s"all ${acked.size} acknowledged versions read back", bad.isEmpty,
      s"versions ${bad.map(_._1).mkString(",")}")
    commit(rec, "expire", 0)(
      { TxTable.expireHistory(s, path, KeepVersions); TxTable.latestVersion(s, path) })(())
    rec.op("vacuum")(TxTable.vacuum(s, path, 0L))
    val head = fingerprint(s.read.format("txtable").load(path))
    rec.check("head reads back after expire and vacuum", head == model.fingerprint(),
      s"got $head")
    val stored = Main.treeBytes(java.nio.file.Paths.get(path)).toDouble
    rec.values("tx_bytes_stored_per_user_byte") = stored / (model.rows.size * RowBytes)
    rec.values("commits") = acked.size
    if (userBytes > 0) rec.values("tx.bytes_written_per_user_byte") = createdBytes / userBytes
  }
}
