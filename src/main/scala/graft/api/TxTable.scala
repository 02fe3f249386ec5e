package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{GraftTxParquetIndex, GraftV2Bridge}

/** A dependency-free transactional table layer over parquet — the
  * lakehouse commit-log shape (Delta/Iceberg's core mechanics) with
  * zero format jars, closing the "table format absent from
  * /opt/spark/jars" gap with the same public design those formats
  * published: an append-only JSON commit log is the source of truth,
  * data files are immutable and invisible until a commit references
  * them, and readers resolve a snapshot from the log instead of
  * listing the directory.
  *
  * Layout:
  * {{{
  *   table/
  *     _txlog/00000000000000000001.json          commit records
  *     _txlog/00000000000000000010.checkpoint.json  folded live set
  *     data-<uuid>/part-*.parquet                one dir per commit
  * }}}
  *
  * Commit record (one line of JSON, fields regex-stable):
  * `{"version":3,"action":"append","files":["data-ab/part-0.parquet"],
  * "ts":1700000000000,"writer":"12345@host"}`
  *
  * Guarantees, and how each is achieved:
  *  - **Atomic visibility**: writers stage parquet into a
  *    commit-unique `data-<uuid>/` dir FIRST, then publish it by
  *    claiming the next `_txlog/<v>.json` — the record is fully
  *    written to a `.tmp-` sibling and atomically hard-linked (local)
  *    or renamed (HDFS) onto the claimable name, so a reader can
  *    never observe a torn or empty record and a writer crash strands
  *    at most an ignored `.tmp-` file. Either the complete log record
  *    exists or the staged dir is invisible garbage for [[vacuum]].
  *  - **Optimistic concurrency**: the version is claimed by the
  *    create-if-absent — a loser gets FileAlreadyExists, re-reads the
  *    log, and retries at the next version. Append/append conflicts
  *    commute, so retry is always safe; an overwrite that loses to a
  *    concurrent commit retries on top of it (last-overwrite-wins in
  *    LOG order — the log is the serialization). Same caveat as every
  *    other publish path here: create(overwrite=false) is atomic on
  *    posix/HDFS, check-then-create on Hadoop's local ChecksumFS and
  *    most object stores (those need external serialization).
  *  - **Snapshot isolation / time travel**: a snapshot at version V is
  *    the fold of commits 1..V (overwrite resets the live set, append
  *    extends it). Data files are immutable, so a reader holding V's
  *    file list is isolated from every later writer. [[readVersion]]
  *    IS time travel; [[history]] lists the log.
  *  - **O(1)-ish snapshot resolution at scale**: every
  *    [[CheckpointEvery]]-th commit also writes a
  *    `<v>.checkpoint.json` holding the FOLDED live set, so a reader
  *    starts from the latest checkpoint at-or-below its target and
  *    folds only the suffix — the log never has to be replayed from
  *    v1, and a 100 TB table with 10^5 commits resolves from one
  *    checkpoint + <CheckpointEvery tail records. Listing `_txlog/`
  *    (small JSON files) replaces listing the data tree entirely —
  *    the property that makes object-store tables consistent.
  *  - **[[compact]]** rewrites the current snapshot into few files as
  *    an overwrite commit (content-identical, fewer tasks downstream);
  *    **[[vacuum]]** deletes `data-*` dirs referenced by NO commit —
  *    crashed/lost-race stagings — and never anything the log can
  *    still reach (time travel stays intact).
  *
  * All IO goes through the Hadoop FS of the table path, so the same
  * code runs on file://, hdfs://, or the s3mini test scheme.
  */
object TxTable {

  final case class Commit(version: Long, action: String,
                          files: Seq[String], ts: Long,
                          txn: Option[String] = None,
                          stats: Map[String, (Long, Long)] = Map.empty,
                          statsCol: Option[String] = None,
                          mstats: Map[String, Seq[(Long, Long)]] = Map.empty,
                          statsCols: Seq[String] = Nil,
                          bloomCol: Option[String] = None,
                          bloomBits: Int = 0,
                          blooms: Map[String, String] = Map.empty,
                          zbits: Int = 0,
                          op: Option[String] = None,
                          cdf: Seq[String] = Nil,
                          schemaB64: Option[String] = None,
                          sstats: Map[String, (String, String)] = Map.empty,
                          dels: Seq[String] = Nil,
                          props: Option[Map[String, String]] = None)

  /** Fold-and-persist cadence for checkpoint records. */
  val CheckpointEvery = 10
  private val MaxCommitRetries = 64

  private def fs(spark: SparkSession, path: String) =
    Dedup.hadoopFs(spark, path)

  private def logDir(path: String) = s"$path/_txlog"
  private def commitPath(path: String, v: Long) =
    f"${logDir(path)}/$v%020d.json"
  private def checkpointPath(path: String, v: Long) =
    f"${logDir(path)}/$v%020d.checkpoint.json"

  // ---- log records (hand-rolled JSON; staged names are [-a-z0-9/.]
  // only, so no escaping is ever needed — enforced at stage time) ----

  private def render(c: Commit): String =
    s"""{"version":${c.version},"action":"${c.action}",""" +
      s""""files":[${c.files.map("\"" + _ + "\"").mkString(",")}],""" +
      c.txn.map(t => s""""txn":"$t",""").getOrElse("") +
      c.statsCol.map(sc => s""""statsCol":"$sc",""").getOrElse("") +
      (if (c.stats.isEmpty) ""
       else s""""stats":[${c.stats.toSeq.sortBy(_._1).map { case (f, (lo, hi)) =>
         s"""{"f":"$f","lo":$lo,"hi":$hi}"""
       }.mkString(",")}],""") +
      (if (c.statsCols.isEmpty) ""
       else s""""statsCols":[${c.statsCols.map("\"" + _ + "\"").mkString(",")}],""") +
      c.bloomCol.map(bc => s""""bloomCol":"$bc",""").getOrElse("") +
      (if (c.bloomBits == 0) "" else s""""bloomBits":${c.bloomBits},""") +
      (if (c.zbits == 0) "" else s""""zbits":${c.zbits},""") +
      c.op.map(o => s""""op":"$o",""").getOrElse("") +
      // base64 of StructType.json — the alphabet [A-Za-z0-9+/=] is
      // JSON-inert, so the hand-rolled parser stays regex-safe even
      // though the schema document itself nests quotes and brackets
      c.schemaB64.map(sc => s""""schemaB64":"$sc",""").getOrElse("") +
      // table properties: arbitrary user strings, so each key/value is
      // base64'd separately (k:v entries joined with ';' — the whole
      // payload stays in the JSON-inert alphabet [A-Za-z0-9+/=:;]).
      // An EMPTY map still renders ("propsB64":"") — that is the reset
      // marker (REPLACE TABLE / UNSET to nothing); an absent field
      // means "carry the previous properties"
      c.props.map(p => s""""propsB64":"${encodeProps(p)}",""").getOrElse("") +
      (if (c.cdf.isEmpty) ""
       else s""""cdf":[${c.cdf.map("\"" + _ + "\"").mkString(",")}],""") +
      // position-delete files (Iceberg v2 shape): parquet files of
      // (f, pos) rows naming deleted positions of live data files
      (if (c.dels.isEmpty) ""
       else s""""dels":[${c.dels.map("\"" + _ + "\"").mkString(",")}],""") +
      // sstats entries are bracket-free (base64 payloads): per-file
      // TRUNCATED string bounds — lo is a prefix of the true min (a
      // prefix never exceeds the full string in byte order), hi is the
      // truncated max with its last byte incremented (>= every value),
      // or "" for unbounded-above when the increment overflows
      (if (c.sstats.isEmpty) ""
       else s""""sstats":[${c.sstats.toSeq.sortBy(_._1).map { case (f, (lo, hi)) =>
         s"""{"f":"$f","lo":"$lo","hi":"$hi"}"""
       }.mkString(",")}],""") +
      // bloom entries are bracket-free (hex payloads), so they stay
      // BEFORE mstats and a non-greedy scan parses them safely
      (if (c.blooms.isEmpty) ""
       else s""""blooms":[${c.blooms.toSeq.sortBy(_._1).map { case (f, b) =>
         s"""{"f":"$f","b":"$b"}"""
       }.mkString(",")}],""") +
      // mstats stays LAST before "ts": its entries nest brackets, so the
      // parser anchors on the closing  ],"ts"  instead of a non-greedy
      // scan that would stop at the first inner bracket
      (if (c.mstats.isEmpty) ""
       else s""""mstats":[${c.mstats.toSeq.sortBy(_._1).map { case (f, rs) =>
         s"""{"f":"$f","r":[${rs.map(r => s"${r._1},${r._2}").mkString(",")}]}"""
       }.mkString(",")}],""") +
      s""""ts":${c.ts},"writer":"${java.lang.ProcessHandle.current().pid()}"}"""

  private[graft] def encodeProps(m: Map[String, String]): String = {
    val enc = java.util.Base64.getEncoder
    m.toSeq.sortBy(_._1).map { case (k, v) =>
      enc.encodeToString(k.getBytes("UTF-8")) + ":" +
        enc.encodeToString(v.getBytes("UTF-8"))
    }.mkString(";")
  }

  private[graft] def decodeProps(s: String): Map[String, String] =
    if (s.isEmpty) Map.empty
    else {
      val dec = java.util.Base64.getDecoder
      s.split(';').toSeq.map { e =>
        val i = e.indexOf(':')
        new String(dec.decode(e.take(i)), "UTF-8") ->
          new String(dec.decode(e.drop(i + 1)), "UTF-8")
      }.toMap
    }

  private val VersionRe = """"version":(\d+)""".r
  private val ActionRe = """"action":"(\w+)"""".r
  private val FilesRe = """"files":\[([^\]]*)\]""".r
  private val FileRe = """"([^"]+)"""".r
  private val TsRe = """"ts":(\d+)""".r
  private val TxnRe = """"txn":"([^"]+)"""".r
  private val StatsColRe = """"statsCol":"([^"]+)"""".r
  private val StatsRe = """"stats":\[(.*?)\]""".r
  private val StatRe =
    """\{"f":"([^"]+)","lo":(-?\d+),"hi":(-?\d+)\}""".r
  private val StatsColsRe = """"statsCols":\[([^\]]*)\]""".r
  private val BloomColRe = """"bloomCol":"([^"]+)"""".r
  private val BloomBitsRe = """"bloomBits":(\d+)""".r
  private val BloomsRe = """"blooms":\[(.*?)\]""".r
  private val BloomRe = """\{"f":"([^"]+)","b":"([0-9a-f]*)"\}""".r
  private val ZBitsRe = """"zbits":(\d+)""".r
  private val OpRe = """"op":"(\w+)"""".r
  private val SchemaB64Re = """"schemaB64":"([A-Za-z0-9+/=]+)"""".r
  private val SStatsRe = """"sstats":\[(.*?)\]""".r
  private val SStatRe =
    """\{"f":"([^"]+)","lo":"([A-Za-z0-9+/=]*)","hi":"([A-Za-z0-9+/=]*)"\}""".r
  private val PropsRe = """"propsB64":"([A-Za-z0-9+/=:;]*)"""".r
  private val CdfRe = """"cdf":\[([^\]]*)\]""".r
  private val DelsRe = """"dels":\[([^\]]*)\]""".r
  // anchored on ],"ts" — mstats entries nest brackets (see render)
  private val MStatsRe = """"mstats":\[(.*)\],"ts"""".r
  private val MStatRe = """\{"f":"([^"]+)","r":\[([-0-9,]*)\]\}""".r

  private def parse(txt: String): Commit = Commit(
    VersionRe.findFirstMatchIn(txt).map(_.group(1).toLong)
      .getOrElse(throw new java.io.IOException(s"bad commit record: $txt")),
    ActionRe.findFirstMatchIn(txt).map(_.group(1)).getOrElse("append"),
    FilesRe.findFirstMatchIn(txt).map(m =>
      FileRe.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(Seq.empty),
    TsRe.findFirstMatchIn(txt).map(_.group(1).toLong).getOrElse(0L),
    TxnRe.findFirstMatchIn(txt).map(_.group(1)),
    StatsRe.findFirstMatchIn(txt).map(m =>
      StatRe.findAllMatchIn(m.group(1)).map(s =>
        s.group(1) -> (s.group(2).toLong, s.group(3).toLong)).toMap)
      .getOrElse(Map.empty),
    StatsColRe.findFirstMatchIn(txt).map(_.group(1)),
    MStatsRe.findFirstMatchIn(txt).map(m =>
      MStatRe.findAllMatchIn(m.group(1)).map { s =>
        val ls = s.group(2).split(',').filter(_.nonEmpty).map(_.toLong)
        s.group(1) -> ls.grouped(2).map(p => (p(0), p(1))).toSeq
      }.toMap)
      .getOrElse(Map.empty),
    StatsColsRe.findFirstMatchIn(txt).map(m =>
      FileRe.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(Nil),
    BloomColRe.findFirstMatchIn(txt).map(_.group(1)),
    BloomBitsRe.findFirstMatchIn(txt).map(_.group(1).toInt).getOrElse(0),
    BloomsRe.findFirstMatchIn(txt).map(m =>
      BloomRe.findAllMatchIn(m.group(1)).map(b =>
        b.group(1) -> b.group(2)).toMap)
      .getOrElse(Map.empty),
    ZBitsRe.findFirstMatchIn(txt).map(_.group(1).toInt).getOrElse(0),
    OpRe.findFirstMatchIn(txt).map(_.group(1)),
    CdfRe.findFirstMatchIn(txt).map(m =>
      FileRe.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(Nil),
    SchemaB64Re.findFirstMatchIn(txt).map(_.group(1)),
    SStatsRe.findFirstMatchIn(txt).map(m =>
      SStatRe.findAllMatchIn(m.group(1)).map(x =>
        x.group(1) -> (x.group(2), x.group(3))).toMap)
      .getOrElse(Map.empty),
    DelsRe.findFirstMatchIn(txt).map(m =>
      FileRe.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(Nil),
    PropsRe.findFirstMatchIn(txt).map(m => decodeProps(m.group(1))))

  private val TxnsRe = """"txns":\[([^\]]*)\]""".r
  private def parseTxns(txt: String): Seq[String] =
    TxnsRe.findFirstMatchIn(txt).map(m =>
      FileRe.findAllMatchIn(m.group(1)).map(_.group(1)).toSeq)
      .getOrElse(Seq.empty)

  private def readSmall(hfs: org.apache.hadoop.fs.FileSystem,
                        p: org.apache.hadoop.fs.Path): String = {
    val in = hfs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  /** Publish a fully-written record under `p`, failing if `p` exists —
    * the version claim. The record is ALWAYS written complete to a
    * `.tmp-` sibling first and linked/renamed into place, so no reader
    * can ever observe a torn or empty record under a claimable name
    * (a create-then-write protocol leaves a permanently-empty
    * `<v>.json` after a crash between the two, bricking the log).
    *
    *  - local FS: hard-link the temp onto the final name —
    *    link(2) is atomic and fails with EEXIST if the name is taken,
    *    so the claim and the content arrive together;
    *  - HDFS: rename(tmp, final) — atomic, fails if dst exists;
    *  - object stores without atomic rename keep the documented
    *    external-serialization caveat.
    *
    * Throws FileAlreadyExistsException/IOException on a lost race —
    * the signal the retry loop keys on. The temp is removed on every
    * path; a crash can only ever strand a `.tmp-` file, which readers
    * ignore by name shape.
    */
  private def writeNew(hfs: org.apache.hadoop.fs.FileSystem,
                       p: org.apache.hadoop.fs.Path, txt: String): Unit =
    if (hfs.getScheme == "file") {
      val local = java.nio.file.Paths.get(p.toUri.getPath)
      java.nio.file.Files.createDirectories(local.getParent)
      val tmp = local.resolveSibling(
        local.getFileName.toString + ".tmp-" +
          java.util.UUID.randomUUID().toString.take(8))
      java.nio.file.Files.write(tmp, txt.getBytes("UTF-8"))
      try java.nio.file.Files.createLink(local, tmp)
      finally { java.nio.file.Files.deleteIfExists(tmp); () }
    } else {
      val tmp = new org.apache.hadoop.fs.Path(
        p.toString + ".tmp-" + java.util.UUID.randomUUID().toString.take(8))
      val out = hfs.create(tmp, true)
      out.write(txt.getBytes("UTF-8")); out.close()
      try {
        if (hfs.exists(p))
          throw new org.apache.hadoop.fs.FileAlreadyExistsException(p.toString)
        if (!hfs.rename(tmp, p)) {
          // rename == false is ambiguous: a lost race (dst appeared) or
          // a genuine FS failure (quota, missing tmp, a flake). Only
          // report the race when the destination CONFIRMS it is taken —
          // otherwise a real failure would be misdiagnosed as
          // contention and retried MaxCommitRetries times with the
          // cause discarded.
          if (hfs.exists(p))
            throw new org.apache.hadoop.fs.FileAlreadyExistsException(p.toString)
          throw new java.io.IOException(
            s"rename($tmp, $p) failed on ${hfs.getScheme} with no racer " +
              "at the destination — a genuine filesystem failure, not a " +
              "lost version race")
        }
      } finally { if (hfs.exists(tmp)) hfs.delete(tmp, false); () }
    }

  /** One listing of `_txlog/` → (commit versions asc, checkpoint
    * versions asc). Versions come from the zero-padded NAMES — the
    * record bodies are only read when their contents are needed, which
    * is what keeps snapshot resolution at one checkpoint + a short
    * tail instead of a full log replay.
    */
  /** One `listStatus` of the commit log (absent table → empty): the
    * statuses feed both version parsing AND the state-memo fingerprint
    * from a single metadata RPC.
    */
  private def listLog(hfs: org.apache.hadoop.fs.FileSystem,
                      path: String): Seq[org.apache.hadoop.fs.FileStatus] = {
    val ld = new org.apache.hadoop.fs.Path(logDir(path))
    if (!hfs.exists(ld)) Seq.empty else hfs.listStatus(ld).toSeq
  }

  private def logVersionsOf(names: Seq[String]): (Seq[Long], Seq[Long]) =
    // exact name shapes only: stranded .tmp- siblings (crashed
    // publishes) and any stray file must never enter version parsing
    (names.filter(_.matches("""\d{20}\.json"""))
       .map(_.stripSuffix(".json").toLong).sorted,
     names.filter(_.matches("""\d{20}\.checkpoint\.json"""))
       .map(_.stripSuffix(".checkpoint.json").toLong).sorted)

  private def logVersions(hfs: org.apache.hadoop.fs.FileSystem,
                          path: String): (Seq[Long], Seq[Long]) =
    logVersionsOf(listLog(hfs, path).map(_.getPath.getName))

  /** All commit records in the log, ascending (absent table → empty). */
  def history(spark: SparkSession, path: String): Seq[Commit] = {
    val hfs = fs(spark, path)
    logVersions(hfs, path)._1.map(v =>
      parse(readSmall(hfs, new org.apache.hadoop.fs.Path(commitPath(path, v)))))
  }

  def latestVersion(spark: SparkSession, path: String): Long =
    logVersions(fs(spark, path), path)._1.lastOption.getOrElse(0L)

  /** `v` when it names a committed version of the table, else a loud
    * error: folding "everything <= v" would silently serve the HEAD for
    * any too-large v, and a pinned report would read a wrong snapshot.
    */
  private[graft] def requireVersion(spark: SparkSession, path: String,
                                    v: Long): Long = {
    val head = latestVersion(spark, path)
    require(v >= 1 && v <= head,
      s"versionAsOf $v out of range for $path (versions 1..$head)")
    v
  }

  /** The folded table state at a version — live files, landed txns,
    * per-file cluster-column (lo, hi) stats, and the column the stats
    * describe — resolved from the newest checkpoint at-or-below the
    * version plus the tail commits after it, never a full log replay
    * (what keeps both snapshot resolution and txn-idempotence
    * O(checkpoint + tail)). Txns folded into a checkpoint map to the
    * CHECKPOINT version (callers only need "already landed"); tail
    * txns map to their real version. Files without stats are simply
    * unprunable; `statsCol` names the column the recorded ranges are
    * FOR, so a range read on a different column rejects instead of
    * silently pruning with the wrong bounds.
    */
  private[graft] final case class State(files: Seq[String],
                                 txns: Map[String, Long],
                                 stats: Map[String, (Long, Long)],
                                 statsCol: Option[String],
                                 mstats: Map[String, Seq[(Long, Long)]],
                                 statsCols: Seq[String],
                                 bloomCol: Option[String] = None,
                                 bloomBits: Int = 0,
                                 blooms: Map[String, String] = Map.empty,
                                 zbits: Int = 0,
                                 schemaB64: Option[String] = None,
                                 sstats: Map[String, (String, String)] = Map.empty,
                                 dels: Seq[String] = Nil,
                                 props: Map[String, String] = Map.empty)

  /** Folded-state memo, keyed (path, version, log fingerprint) — the
    * SchemaMemo discipline: METADATA only (live-file names, stats,
    * blooms — never row data), and the fingerprint covers every log
    * file's name, size and mtime, so ANY log change (a new commit, an
    * expiry, a hand edit) misses and re-folds. A hit replaces the
    * per-read checkpoint + tail-commit record reads and JSON parses
    * with a hash lookup — on a real object store that is O(commits)
    * GETs per query gone; the one listStatus that computes the
    * fingerprint is metadata the read needs anyway. LRU-capped: a
    * State is O(live files) driver metadata, the same order a single
    * read materializes transiently.
    */
  private val stateMemo =
    new java.util.LinkedHashMap[(String, Long, String), State](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, String), State]): Boolean =
        size() > 64
    }

  private def logFingerprint(
      sts: Seq[org.apache.hadoop.fs.FileStatus]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    sts.map(s => s"${s.getPath.getName}:${s.getLen}:${s.getModificationTime}")
      .sorted.foreach(e => md.update(e.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def foldState(hfs: org.apache.hadoop.fs.FileSystem, path: String,
                        version: Long): State = {
    val listing = listLog(hfs, path)
    val key = (path, version, logFingerprint(listing))
    stateMemo.synchronized {
      val hit = stateMemo.get(key)
      if (hit != null) return hit
    }
    val st =
      try foldStateOnce(hfs, path, version,
        logVersionsOf(listing.map(_.getPath.getName)))
      catch {
        // a concurrent [[expireHistory]] can delete records BETWEEN this
        // fold's log listing and its record reads — a reader at or above
        // the cutoff would then hit a vanished pre-cutoff checkpoint/
        // commit mid-fold. One retry with a FRESH listing resolves it
        // from the cutoff checkpoint the expiry published first; a read
        // genuinely below the new horizon fails the retry with the named
        // retention error instead of a raw missing-file. The retry's
        // state belongs to the NEW listing, not `key` — return it
        // unmemoized (the next call fingerprints the new log and folds
        // into its own entry).
        case _: java.io.FileNotFoundException =>
          return foldStateOnce(hfs, path, version, logVersions(hfs, path))
      }
    stateMemo.synchronized { stateMemo.put(key, st); () }
    st
  }

  private def foldStateOnce(hfs: org.apache.hadoop.fs.FileSystem,
                            path: String, version: Long,
                            versions: (Seq[Long], Seq[Long])): State = {
    val (commitVs, ckVs) = versions
    val (base, startAfter) = ckVs.filter(_ <= version).lastOption match {
      case Some(cv) =>
        val txt = readSmall(hfs,
          new org.apache.hadoop.fs.Path(checkpointPath(path, cv)))
        val ck = parse(txt)
        (State(ck.files, parseTxns(txt).map(_ -> cv).toMap, ck.stats,
          ck.statsCol, ck.mstats, ck.statsCols,
          ck.bloomCol, ck.bloomBits, ck.blooms, ck.zbits, ck.schemaB64,
          ck.sstats, ck.dels, ck.props.getOrElse(Map.empty)), cv)
      case None =>
        (State(Seq.empty, Map.empty, Map.empty, None, Map.empty, Nil), 0L)
    }
    // a version with NO resolvable base at all (no checkpoint at or
    // below it, every record at or below it gone) is the COMPLETED
    // retention shape — name it, don't let it surface as a gap error
    if (startAfter == 0 && commitVs.headOption.exists(_ > version))
      throw new IllegalArgumentException(
        s"version $version of $path is below the retention horizon " +
          s"(earliest surviving version ${commitVs.head}): its history " +
          "was truncated by expireHistory")
    val tail = commitVs.filter(v => v > startAfter && v <= version)
    // versions are claimed contiguously, so the fold window must be
    // gap-free: a GAP means a partially-deleted history (a crashed
    // [[expireHistory]], or hand-deleted records) — folding around it
    // would silently serve a snapshot MISSING the gap's commits as if
    // it were version `version`. Loud beats wrong; reads at or above a
    // completed expiry's cutoff never enter this branch (their
    // checkpoint floors startAfter at the cutoff).
    require(tail == (startAfter + 1).to(version),
      s"txtable at $path: commit records for versions " +
        s"${((startAfter + 1).to(version)).diff(tail).mkString(",")} are " +
        s"missing from the log (a crashed expireHistory leaves this " +
        "state for versions below its cutoff; re-run expireHistory to " +
        "finish truncating, or restore the missing records)")
    tail
      .foldLeft(base) { case (st, v) =>
        val c = parse(readSmall(hfs,
          new org.apache.hadoop.fs.Path(commitPath(path, v))))
        // an overwrite's files define its schema, so any recorded head
        // schema RESETS (unless the overwrite carries one itself); an
        // append carrying schemaB64 (an evolveAppend) WIDENS the head
        // schema, a plain append inherits it
        // dels (position-delete files) accumulate like cdf's data-
        // carrying cousins: a non-overwrite commit ADDS its dels; an
        // overwrite carries exactly what it names (a user overwrite
        // resets to Nil; a snapshot-derived rewrite — commitReplace,
        // replaceWhere, compactSmall — passes the surviving dels
        // through so carried files' deleted rows never resurrect;
        // stale del rows naming removed files match nothing — staging
        // names are never reused)
        val (files2, stats2, col2, mstats2, cols2, bcol2, bbits2, blooms2, zb2, sch2, ss2, dels2) =
          if (c.action == "overwrite")
            (c.files, c.stats, c.statsCol, c.mstats, c.statsCols,
              c.bloomCol, c.bloomBits, c.blooms, c.zbits, c.schemaB64,
              c.sstats, c.dels)
          else (st.files ++ c.files, st.stats ++ c.stats, st.statsCol,
            st.mstats ++ c.mstats, st.statsCols,
            st.bloomCol, st.bloomBits, st.blooms ++ c.blooms, st.zbits,
            c.schemaB64.orElse(st.schemaB64), st.sstats ++ c.sstats,
            st.dels ++ c.dels)
        State(files2, c.txn.fold(st.txns)(t => st.txns + (t -> v)),
          stats2, col2, mstats2, cols2, bcol2, bbits2, blooms2, zb2, sch2,
          ss2, dels2,
          // table PROPERTIES are table-level, not data-level: they
          // persist across every commit (including data overwrites)
          // unless a commit explicitly carries a props field — a FULL
          // replacement map (create / replaceTable / setProperties),
          // never a patch
          c.props.getOrElse(st.props))
      }
  }

  /** The HEAD's logical schema when the log records one — the mapping
    * context for writers that do not already hold a folded state.
    */
  private[graft] def headLogical(spark: SparkSession, path: String)
      : Option[org.apache.spark.sql.types.StructType] = {
    val v = latestVersion(spark, path)
    if (v == 0) None
    else logicalSchemaOf(foldState(fs(spark, path), path, v))
  }

  /** The live file set at `version` (relative paths). */
  private def liveFiles(spark: SparkSession, path: String,
                        version: Long): Seq[String] = {
    val hfs = fs(spark, path)
    require(logVersions(hfs, path)._1.exists(_ <= version),
      s"no commits at or below version $version in $path")
    foldState(hfs, path, version).files
  }

  /** The version a txn landed at, if it ever did (checkpoint + tail). */
  private def txnLanded(spark: SparkSession, path: String,
                        txn: String): Option[Long] = {
    val hfs = fs(spark, path)
    logVersions(hfs, path)._1.lastOption
      .flatMap(head => foldState(hfs, path, head).txns.get(txn))
  }

  /** Stage `df` as parquet under a commit-unique data dir; returns the
    * staged RELATIVE file names. Underscore files (_SUCCESS) are not
    * data and never enter a commit record. A plan with zero partitions
    * (an empty frame) writes no part file at all, which would land a
    * `files:[]` commit no reader can resolve a schema from — restage
    * through repartition(1), whose single task always emits one
    * (schema-carrying, zero-row) file, so truncate-to-empty yields an
    * empty TABLE, not an unreadable one.
    */
  private def stage(spark: SparkSession, path: String,
                    df0: DataFrame,
                    asDataOf: Option[org.apache.spark.sql.types.StructType] =
                      None): Seq[String] = {
    // `asDataOf = Some(logical)` marks a TABLE DATA staging for a
    // snapshot whose logical schema is `logical`: columns rename to
    // their PHYSICAL names (column mapping; identity when unmapped).
    // Non-data stagings — del files (f, pos), CDF change frames — and
    // schema-DEFINING writes (overwrite/create, where the staged names
    // BECOME the schema) pass None. Physical names are immutable for a
    // column's lifetime, so using the caller's observed snapshot is
    // race-free even under claim-loop retries.
    val mapped = asDataOf.fold(df0)(l => TxMapping.toPhysicalDf(df0, l))
    // the footer must never embed mapping metadata (it would re-state
    // the map outside the log)
    val df = TxMapping.scrubMappingDf(mapped)
    val sub = "data-" + java.util.UUID.randomUUID().toString.take(12)
    val hfs = fs(spark, path)
    def list(): Seq[String] =
      hfs.listStatus(new org.apache.hadoop.fs.Path(s"$path/$sub"))
        .toSeq.map(_.getPath.getName)
        .filter(n => n.endsWith(".parquet") && !n.startsWith("_"))
        .sorted.map(n => s"$sub/$n")
    // TIMESTAMP (LTZ) columns default to parquet INT96 in this Spark —
    // a deprecated physical type whose footers carry NO min/max, so a
    // timestamp cluster column would be silently unprunable (and the
    // bytes are fatter). Every TxTable staging writes the standard
    // TIMESTAMP(MICROS) instead. Set-and-restore of a session conf: the
    // window only affects parquet writes racing on the SAME session,
    // and only changes their physical timestamp encoding, never values.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.getOption(tsKey)
    spark.conf.set(tsKey, "TIMESTAMP_MICROS")
    val staged =
      try {
        df.write.mode("overwrite").parquet(s"$path/$sub")
        val first = list()
        if (first.nonEmpty) first
        else {
          df.repartition(1).write.mode("overwrite").parquet(s"$path/$sub")
          list()
        }
      } catch { case t: Throwable =>
        // a write that THREW mid-stage (a failing source query under
        // CTAS/REPLACE, a task error) owns its UUID dir exclusively —
        // delete it now instead of leaving an orphan for vacuum. A
        // ZOMBIE task of the failed job (interrupted, still unwinding
        // its committer) can recreate the dir AFTER this delete —
        // re-check briefly and re-delete until it stays gone, so the
        // catalog's empty-dir cleanup never sees a phantom staging
        try {
          val sp = new org.apache.hadoop.fs.Path(s"$path/$sub")
          hfs.delete(sp, true)
          var i = 0
          while (i < 10 && { Thread.sleep(100); hfs.exists(sp) }) {
            hfs.delete(sp, true); i += 1
          }
        } catch { case _: Throwable => () }
        throw t
      } finally prior match {
        case Some(v) => spark.conf.set(tsKey, v)
        case None    => spark.conf.unset(tsKey)
      }
    require(staged.nonEmpty, s"staging produced no files under $path/$sub")
    require(staged.forall(_.matches("[a-zA-Z0-9/._-]+")),
      s"staged names must be JSON-inert: $staged")
    staged
  }

  /** ONE claim attempt at exactly version `v`: publish the record, or
    * report the version taken by a racer (None). On success, every
    * [[CheckpointEvery]]-th version also writes a checkpoint carrying
    * the folded live set AND the folded txn-id set (best-effort —
    * readers never require a checkpoint).
    */
  /** FS schemes whose claim primitive is check-then-act (an
    * exists-then-rename, or a rename that overwrites an existing
    * destination): two TxTable writers on such a store can BOTH claim
    * the same version and silently fork history. Rejected at commit
    * time — the scaladoc caveat alone proved too quiet (a caller
    * pointing a table at s3mini gets a hard error naming the fix, not
    * a latent lost-update). Real object-store deployments route
    * commits through a locking service (the DynamoDB LogStore shape);
    * HDFS rename-if-absent and local link(2) are atomic natively.
    */
  private[graft] val NonAtomicClaimSchemes = Set("s3mini", "s3a", "s3", "s3n")

  /** Hadoop-conf escape hatch for SINGLE-WRITER object-store tables:
    * set `graft.txtable.unsafeNonAtomicCommit=true` to commit on a
    * [[NonAtomicClaimSchemes]] scheme anyway — the caller asserts that
    * writers are serialized externally (one driver, or a locking
    * service), which is exactly the contract of Delta's
    * S3SingleDriverLogStore / externally-locked LogStores. The default
    * stays the hard rejection: with two UNserialized writers a
    * check-then-act claim can fork history silently, the worst failure
    * a commit log can have.
    */
  val UnsafeNonAtomicCommitKey = "graft.txtable.unsafeNonAtomicCommit"

  private def commitAt(spark: SparkSession, path: String, v: Long,
                       action: String, files: Seq[String],
                       txn: Option[String],
                       stats: Map[String, (Long, Long)] = Map.empty,
                       statsCol: Option[String] = None,
                       mstats: Map[String, Seq[(Long, Long)]] = Map.empty,
                       statsCols: Seq[String] = Nil,
                       bloomCol: Option[String] = None,
                       bloomBits: Int = 0,
                       blooms: Map[String, String] = Map.empty,
                       zbits: Int = 0,
                       op: Option[String] = None,
                       cdf: Seq[String] = Nil,
                       schemaB64: Option[String] = None,
                       sstats: Map[String, (String, String)] = Map.empty,
                       dels: Seq[String] = Nil,
                       props: Option[Map[String, String]] = None)
      : Option[Long] = {
    val hfs = fs(spark, path)
    require(!NonAtomicClaimSchemes.contains(hfs.getScheme) ||
        spark.sparkContext.hadoopConfiguration
          .getBoolean(UnsafeNonAtomicCommitKey, false),
      s"TxTable cannot commit on '${hfs.getScheme}': the scheme lacks an " +
        "atomic rename-if-absent, so two UNserialized writers could claim " +
        "the same version and fork history — serialize writers externally " +
        s"(a locking service / single driver) and set " +
        s"$UnsafeNonAtomicCommitKey=true to proceed, or use a file:// or " +
        "hdfs:// table path")
    hfs.mkdirs(new org.apache.hadoop.fs.Path(logDir(path)))
    val rec = Commit(v, action, files, System.currentTimeMillis(), txn,
      stats, statsCol, mstats, statsCols, bloomCol, bloomBits, blooms,
      zbits, op, cdf, schemaB64, sstats, dels, props)
    try {
      writeNew(hfs, new org.apache.hadoop.fs.Path(commitPath(path, v)),
        render(rec))
      if (v % CheckpointEvery == 0)
        scala.util.Try {
          val st = foldState(hfs, path, v)
          // checkpoint = files + per-file stats + cumulative txn set
          val ck = render(Commit(v, "checkpoint", st.files, rec.ts,
            stats = st.stats, statsCol = st.statsCol,
            mstats = st.mstats, statsCols = st.statsCols,
            bloomCol = st.bloomCol, bloomBits = st.bloomBits,
            blooms = st.blooms, zbits = st.zbits,
            schemaB64 = st.schemaB64, sstats = st.sstats,
            dels = st.dels,
            // folded properties ride the checkpoint so they survive
            // expireHistory truncating the commit that set them
            props = if (st.props.isEmpty) None else Some(st.props)))
          writeNew(hfs, new org.apache.hadoop.fs.Path(checkpointPath(path, v)),
            ck.dropRight(1) +
              s""","txns":[${st.txns.keys.toSeq.sorted
                .map("\"" + _ + "\"").mkString(",")}]}""")
        }
      Some(v)
    } catch {
      // ONLY a lost version race reports None (the caller's retry
      // signal). Any other IOException — disk full, permissions, a
      // flaking FS — propagates with its real cause: retrying a
      // genuine write failure 64 times and then reporting "could not
      // commit" with the cause discarded misdiagnoses every such
      // failure as contention.
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => None
      case _: java.nio.file.FileAlreadyExistsException => None
    }
  }

  /** Claim the next version optimistically; retries on lost races.
    * With `txn` set, the commit is IDEMPOTENT: if the log already
    * carries the same txn id (checkpoint + tail scan, O(tail)), that
    * version is returned and nothing new lands — the mechanism behind
    * exactly-once streaming ingest (redelivered micro-batches
    * re-present their txn id). Idempotence holds for SERIAL redelivery
    * (a checkpoint replay); two concurrent writers sharing a txn id
    * can still both land — streaming redelivery is never concurrent
    * with itself.
    */
  private def commit(spark: SparkSession, path: String, action: String,
                     files: Seq[String], txn: Option[String] = None,
                     stats: Map[String, (Long, Long)] = Map.empty,
                     statsCol: Option[String] = None,
                     mstats: Map[String, Seq[(Long, Long)]] = Map.empty,
                     statsCols: Seq[String] = Nil,
                     bloomCol: Option[String] = None,
                     bloomBits: Int = 0,
                     blooms: Map[String, String] = Map.empty,
                     zbits: Int = 0,
                     op: Option[String] = None,
                     cdf: Seq[String] = Nil,
                     schemaB64: Option[String] = None,
                     sstats: Map[String, (String, String)] = Map.empty,
                     dels: Seq[String] = Nil,
                     props: Option[Map[String, String]] = None): Long = {
    txn.foreach(t => require(t.matches("[A-Za-z0-9._:-]+"),
      s"txn id must be JSON-inert ([A-Za-z0-9._:-]+): '$t'"))
    (statsCols ++ bloomCol).foreach(c => require(c.matches("[A-Za-z0-9._-]+"),
      s"stats column names must be JSON-inert ([A-Za-z0-9._-]+): '$c'"))
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      txn.flatMap(txnLanded(spark, path, _)) match {
        case Some(prior) => return prior // redelivery: a no-op
        case None =>
          commitAt(spark, path, latestVersion(spark, path) + 1,
              action, files, txn, stats, statsCol, mstats, statsCols,
              bloomCol, bloomBits, blooms, zbits, op, cdf,
              schemaB64, sstats, dels, props) match {
            case Some(v) => return v
            case None    => attempt += 1 // re-read the log, retry on top
          }
      }
    }
    throw new IllegalStateException(
      s"could not commit to $path after $MaxCommitRetries lost version " +
        "races (every attempt found its claimed version already taken)")
  }

  /** Appends must match the table's schema by (name → type) — the
    * enforcement half of schema-on-write: a drifted producer fails
    * loudly at commit time instead of landing rows a later reader
    * unions into nulls. Field ORDER is not significant (parquet reads
    * resolve by name); nullability is not compared (it is advisory in
    * Spark schemas).
    */
  private def requireSchemaMatch(spark: SparkSession, path: String,
                                 df: DataFrame,
                                 what: String = "append"): Unit = {
    val v = latestVersion(spark, path)
    if (v == 0) return // first commit defines the schema
    def shape(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toMap
    // the EFFECTIVE head schema: the log-recorded one when the table
    // has evolved, else ONE footer — not the whole snapshot: absent
    // evolution every live file carries the full table schema
    // (schema-on-write is what this check enforces), so reading the
    // first is sufficient and keeps the per-append cost flat as the
    // table accretes files
    val table = shape(stateSchema(spark, path,
      foldState(fs(spark, path), path, v)))
    val staged = shape(df.schema)
    require(staged == table,
      s"$what schema mismatch for $path: table has $table, $what has $staged")
  }

  private def schemaToB64(st: org.apache.spark.sql.types.StructType): String =
    java.util.Base64.getEncoder.encodeToString(st.json.getBytes("UTF-8"))

  private[graft] def schemaFromB64(b: String): org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      new String(java.util.Base64.getDecoder.decode(b), "UTF-8"))
      .asInstanceOf[org.apache.spark.sql.types.StructType]

  /** The schema a snapshot READS UNDER: the log-recorded head schema
    * when the table has evolved (so files staged before an
    * [[evolveAppend]] null-fill the newer columns), else one live
    * file's footer (every file carries the full schema when no
    * evolution commit exists — the schema-on-write invariant
    * [[requireSchemaMatch]] enforces).
    */
  /** Footer-derived schemas, keyed by (path, file) — CONTENT-ADDRESSED
    * (staging names are never reused, files are immutable), so a hit
    * is always exact. Without it EVERY catalog statement on a
    * non-evolved table pays a footer decode (one object-store GET) for
    * a schema that cannot have changed. Staged files are Spark-written
    * and carry Spark's row-metadata schema, which no session parquet
    * flag changes, so the key needs no flags.
    */
  private val footerSchemaCache =
    new java.util.LinkedHashMap[(String, String),
        org.apache.spark.sql.types.StructType](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, String),
            org.apache.spark.sql.types.StructType]): Boolean = size() > 64
    }

  /** One staged file's footer schema through the content-addressed
    * cache (staging names are never reused, files are immutable); a
    * miss decodes the footer on the driver, no Spark job.
    * Mapping metadata is defensively stripped: the mapping is defined
    * by the COMMIT LOG alone (schemaB64); a footer must never re-state
    * it (a user df could carry stale graft.physical metadata).
    */
  private def footerSchema(spark: SparkSession, path: String,
                           relFile: String): org.apache.spark.sql.types.StructType = {
    val key = (path, relFile)
    footerSchemaCache.synchronized {
      val hit = footerSchemaCache.get(key)
      if (hit != null) return hit
    }
    val s = TxMapping.stripMapping(SchemaMemo.footerSchema(spark, s"$path/$relFile"))
    footerSchemaCache.synchronized { footerSchemaCache.put(key, s); () }
    s
  }

  private[graft] def stateSchema(spark: SparkSession, path: String,
                                 st: State): org.apache.spark.sql.types.StructType =
    st.schemaB64.map(schemaFromB64)
      .getOrElse(footerSchema(spark, path, st.files.head))

  /** The snapshot's LOGICAL schema when the log records one (always
    * the case once the table evolved, renamed or dropped a column).
    * Column-mapping translations key off this: `None` → physical ==
    * logical everywhere, zero translation work.
    */
  private[graft] def logicalSchemaOf(st: State)
      : Option[org.apache.spark.sql.types.StructType] =
    st.schemaB64.map(schemaFromB64)

  /** Whether the snapshot reads/writes any column under a physical
    * name differing from its logical one (post-RENAME/DROP).
    */
  private[graft] def isMapped(st: State): Boolean =
    logicalSchemaOf(st).exists(TxMapping.isMapped)

  /** Read table files under the snapshot's effective schema — with
    * PHYSICAL column names (what the files carry). Callers that hand
    * frames to users rename to logical ([[readStateFiles]] does).
    */
  private def readRawStateFiles(spark: SparkSession, path: String,
                                st: State, files: Seq[String]): DataFrame =
    st.schemaB64 match {
      case Some(b) =>
        // physical twin of the logical schema: renamed columns resolve
        // to the names the footers carry (by-name parquet resolution
        // under the LOGICAL name of a renamed column would silently
        // null-fill it); identity for unmapped tables
        readLogFiles(spark, path, files,
          TxMapping.toPhysicalSchema(schemaFromB64(b)))
      case None =>
        // explicit footer-cached schema: every file carries the full
        // schema when no evolution commit exists (the schema-on-write
        // invariant [[requireSchemaMatch]] enforces), so feeding one
        // file's cached footer skips the per-construct driver-side
        // schema inference a bare spark.read.parquet re-pays
        readLogFiles(spark, path, files, stateSchema(spark, path, st))
    }

  /** Files the commit log names — data, position-delete or change
    * files, relative to `path` — as one parquet frame under `schema`.
    * The relation sits on the statuses [[liveFileStatuses]] resolves
    * (one `listStatus` per staging directory), so building it lists no
    * path: `spark.read.parquet(paths)` would list every path again and,
    * past `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * paths, start a Spark job to do it.
    */
  private[graft] def readLogFiles(spark: SparkSession, path: String,
                                  files: Seq[String],
                                  schema: org.apache.spark.sql.types.StructType)
      : DataFrame = {
    val st = liveFileStatuses(spark, path, files)
    GraftV2Bridge.fileFrame(spark, new GraftTxParquetIndex(spark,
      new org.apache.hadoop.fs.Path(path), files.map(f => f -> st(f)),
      _ => st.keySet), schema)
  }

  /** The snapshot read every consumer goes through: raw files, MINUS
    * the state's position deletes when any exist (merge-on-read),
    * renamed to the snapshot's LOGICAL column names.
    */
  private[graft] def readStateFiles(spark: SparkSession, path: String,
                                    st: State, files: Seq[String]): DataFrame = {
    val raw =
      if (st.dels.isEmpty) readRawStateFiles(spark, path, st, files)
      else minusDels(spark, path, st, readWithPos(spark, path, st, files))
        .drop("__graft_dv_f", "__graft_dv_pos")
    logicalSchemaOf(st).fold(raw)(l => TxMapping.toLogicalDf(raw, l))
  }

  /** Replace the table content (also the create form — v1 overwrite). */
  def overwrite(spark: SparkSession, path: String, df: DataFrame): Long =
    commit(spark, path, "overwrite", stage(spark, path, df))

  /** Append with ADDITIVE schema evolution (the mergeSchema shape):
    * new columns in `df` widen the table schema — recorded in the
    * commit log, so every file staged BEFORE this commit reads back
    * with the new columns null-filled — while columns `df` lacks stay
    * (null-filled for the new rows). Type CHANGES reject loudly:
    * silently casting 100 TB of history is never what a drifted
    * producer meant. Time travel to a pre-evolution version reads the
    * OLD schema (the head schema is folded, not global), and an
    * [[overwrite]] resets evolution entirely — its files define a
    * fresh schema. Same conflict-safe commit loop and `txn`
    * idempotence as [[append]].
    */
  def evolveAppend(spark: SparkSession, path: String, df: DataFrame,
                   txn: Option[String] = None): Long = {
    import org.apache.spark.sql.types.StructType
    txn.foreach(t => require(t.matches("[A-Za-z0-9._:-]+"),
      s"txn id must be JSON-inert ([A-Za-z0-9._:-]+): '$t'"))
    val head0 = latestVersion(spark, path)
    require(head0 >= 1,
      s"evolveAppend needs an existing table at $path (create with overwrite)")
    // physical names for the columns this append INTRODUCES: the
    // logical name unless it ever existed as a physical (current or
    // retired — a dropped column's bytes must never resurrect)
    val newPicks: Map[String, String] = {
      val st0 = foldState(fs(spark, path), path, head0)
      val table0 = stateSchema(spark, path, st0)
      val ret = TxMapping.retired(st0.props)
      var taken = Set.empty[String]
      df.schema.fields.filterNot(f => table0.fieldNames.contains(f.name))
        .map { f =>
          val p = TxMapping.freshPhysical(f.name, table0, ret, head0 + 1,
            taken)
          taken += p
          f.name -> p
        }.toMap
    }
    // The widened schema is a function of the HEAD it lands on top of:
    // re-derive it against the observed head on EVERY claim attempt.
    // Re-landing a schema derived from a stale head after a lost
    // version race would silently clobber the racer's metadata —
    // foldState takes the latest commit's schemaB64 wholesale, so a
    // concurrent evolveAppend's new column would vanish from reads
    // (its files still carrying the data), and an interleaved
    // overwrite's fresh schema would be overlaid with the pre-overwrite
    // one (all-null phantom columns). Same restart-the-derivation
    // discipline as every other snapshot-derived writer (rewriteHead,
    // optimize). A type conflict found on a RE-derivation (a racer
    // changed the head schema incompatibly) aborts loudly — the Delta
    // metadata-conflict shape — leaving only a vacuumable staging.
    def widenedVsHead(head: Long): StructType = {
      val st = foldState(fs(spark, path), path, head)
      val table = stateSchema(spark, path, st)
      val staged = df.schema
      val conflicts = staged.fields.flatMap { f =>
        table.fields.find(_.name == f.name).collect {
          case t if t.dataType != f.dataType =>
            s"'${f.name}': table ${t.dataType.simpleString} vs " +
              s"append ${f.dataType.simpleString}"
        }
      }
      require(conflicts.isEmpty,
        s"evolveAppend is additive-only; type changes rejected for $path: " +
          conflicts.mkString("; "))
      // table columns keep their positions (readers' projections stay
      // stable); columns either side lacks become nullable — rows from
      // the other side's files have no values for them. New columns
      // carry the physical names PICKED BEFORE STAGING (the staged
      // files' footers are already written under them); a racer who
      // landed the same column under a DIFFERENT physical name is a
      // metadata conflict — proceeding would read our staged rows'
      // values as null under the racer's physical name
      table.fields.filter(f => newPicks.contains(f.name)).foreach(f =>
        require(TxMapping.physicalName(f) == newPicks(f.name),
          s"evolveAppend on $path: column '${f.name}' was concurrently " +
            s"added under physical name '${TxMapping.physicalName(f)}' " +
            s"but this append staged it as '${newPicks(f.name)}' — " +
            "metadata conflict, retry the append"))
      val newHere = staged.fields.filterNot(f =>
        table.fieldNames.contains(f.name))
      // drop races, caught on the RE-derivation: (a) a column this
      // append staged as EXISTING was concurrently dropped — its
      // physical pick never happened, proceeding would crash or land
      // the staged bytes under a retired name; (b) a pick made against
      // head0 is now retired (a racer added then dropped the same
      // name) — committing it would resurrect the dropped bytes.
      // Both are metadata conflicts: abort loudly, the caller retries.
      newHere.filterNot(f => newPicks.contains(f.name)).foreach(f =>
        throw new IllegalStateException(
          s"evolveAppend on $path: column '${f.name}' was concurrently " +
            "dropped while this append was staging — metadata " +
            "conflict, retry the append"))
      val retiredNow = TxMapping.retired(st.props)
      newHere.map(f => newPicks(f.name)).filter(retiredNow).foreach(ph =>
        throw new IllegalStateException(
          s"evolveAppend on $path: staged physical name '$ph' was " +
            "concurrently retired by a DROP COLUMN — metadata " +
            "conflict, retry the append"))
      StructType(
        table.fields.map(f =>
          if (staged.fieldNames.contains(f.name)) f else f.copy(nullable = true)) ++
          newHere.map(f => TxMapping.fieldWithPhysical(
            f.copy(nullable = true), newPicks(f.name))))
    }
    widenedVsHead(head0) // validate BEFORE staging: a bad call cannot orphan a staged dir
    // staging mapping: existing columns per the head's map, new
    // columns under their fresh picks
    val stagingLogical = {
      val st0 = foldState(fs(spark, path), path, head0)
      val table0 = stateSchema(spark, path, st0)
      StructType(df.schema.fields.map(f =>
        table0.fields.find(_.name == f.name)
          .getOrElse(TxMapping.fieldWithPhysical(f, newPicks(f.name)))))
    }
    txn.flatMap(txnLanded(spark, path, _)) match {
      case Some(prior) => return prior
      case None => ()
    }
    val files = stage(spark, path, df, asDataOf = Some(stagingLogical))
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      txn.flatMap(txnLanded(spark, path, _)) match {
        case Some(prior) => return prior // redelivery: a no-op
        case None =>
          val head = latestVersion(spark, path)
          evolveRaceInjection()
          commitAt(spark, path, head + 1, "append", files, txn,
              schemaB64 = Some(schemaToB64(widenedVsHead(head)))) match {
            case Some(v) => return v
            case None    => attempt += 1 // lost the race: re-derive on the new head
          }
      }
    }
    throw new IllegalStateException(
      s"could not commit to $path after $MaxCommitRetries lost version " +
        "races (every attempt found its claimed version already taken)")
  }

  /** Test seam: runs between evolveAppend's head observation and its
    * claim attempt, so a spec can inject a concurrent commit into
    * exactly the race window deterministically. No-op in production.
    */
  @volatile private[graft] var evolveRaceInjection: () => Unit = () => ()

  /** SQL `ALTER TABLE ADD COLUMN` (the [[TxCatalog]] route): a
    * DATA-LESS additive widening — one `append` commit carrying zero
    * files and the widened `schemaB64`, which [[foldStateOnce]]'s
    * schema fold already treats exactly like an [[evolveAppend]]
    * (every existing file null-fills the new column by name). Metadata
    * only: no bytes move no matter the table size. Idempotent when the
    * column already exists at the same type; a type conflict aborts
    * loudly (additive-only, the evolveAppend contract). Same
    * re-derive-inside-the-claim-loop discipline: the widened schema is
    * a function of the head it lands on.
    */
  private[graft] def evolveAddColumn(spark: SparkSession, path: String,
                                     colName: String,
                                     dt: org.apache.spark.sql.types.DataType)
      : Long = {
    // evolution must not re-open the hole CREATE closes: an added
    // '_file'/'_pos'/'__graft_*' column would shadow the metadata
    // surface exactly like a CREATE-time one (this path also serves
    // MERGE WITH SCHEMA EVOLUTION's derived columns)
    TxRowLevel.requireNotReserved(colName)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val head = latestVersion(spark, path)
      require(head >= 1,
        s"evolveAddColumn needs an existing table at $path")
      val st = foldState(fs(spark, path), path, head)
      val table = stateSchema(spark, path, st)
      table.fields.find(_.name == colName) match {
        case Some(f) if f.dataType == dt => return head // already there
        case Some(f) => throw new IllegalArgumentException(
          s"ADD COLUMN is additive-only for $path: '$colName' exists " +
            s"as ${f.dataType.simpleString}, asked ${dt.simpleString}")
        case None => ()
      }
      // the new column's PHYSICAL name: the logical name unless that
      // physical is in use or was retired by a DROP (re-adding a
      // dropped name must never resurrect the old column's bytes
      // still sitting in live files)
      val phys = TxMapping.freshPhysical(colName, table,
        TxMapping.retired(st.props), head + 1)
      val widened = org.apache.spark.sql.types.StructType(
        table.fields :+ TxMapping.fieldWithPhysical(
          org.apache.spark.sql.types.StructField(colName, dt,
            nullable = true), phys))
      commitAt(spark, path, head + 1, "append", Nil, None,
          schemaB64 = Some(schemaToB64(widened))) match {
        case Some(v) => return v
        case None    => attempt += 1 // re-derive on the new head
      }
    }
    throw new IllegalStateException(
      s"could not evolveAddColumn on $path after $MaxCommitRetries " +
        "lost version races")
  }

  /** SQL `ALTER TABLE RENAME COLUMN` — column mapping (the Delta
    * name-mapping shape): ONE data-less commit carrying the schema
    * with the field's LOGICAL name changed while its PHYSICAL name
    * (what every existing file's footer and the log's skipping
    * metadata carry — [[TxMapping.PhysKey]] field metadata) stays
    * exactly what it was. No bytes move at any table size; old files
    * keep reading (renamed on the fly), time travel below the commit
    * reads the old logical name, and appends keep landing under the
    * immutable physical name.
    */
  private[graft] def renameColumn(spark: SparkSession, path: String,
                                  from: String, to: String): Long = {
    TxRowLevel.requireNotReserved(to)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val head = latestVersion(spark, path)
      require(head >= 1, s"renameColumn needs an existing table at $path")
      val st = foldState(fs(spark, path), path, head)
      val table = stateSchema(spark, path, st)
      require(table.fieldNames.contains(from),
        s"RENAME COLUMN on $path: no column '$from' in " +
          table.fieldNames.mkString(", "))
      if (from == to) return head
      require(!table.fieldNames.contains(to),
        s"RENAME COLUMN on $path: '$to' already exists")
      val renamed = org.apache.spark.sql.types.StructType(
        table.fields.map(f =>
          if (f.name != from) f
          else TxMapping.fieldWithPhysical(f.copy(name = to),
            TxMapping.physicalName(f))))
      commitAt(spark, path, head + 1, "append", Nil, None,
          op = Some("renameColumn"),
          schemaB64 = Some(schemaToB64(renamed))) match {
        case Some(v) => return v
        case None    => attempt += 1 // re-derive on the new head
      }
    }
    throw new IllegalStateException(
      s"could not renameColumn on $path after $MaxCommitRetries lost races")
  }

  /** SQL `ALTER TABLE DROP COLUMN` — column mapping: ONE data-less
    * commit carrying the schema without the field. The bytes stay in
    * the files (readers prune the column; a full rewrite — optimize /
    * compact of everything — physically purges), and the field's
    * physical name is RETIRED in the table properties
    * ([[TxMapping.RetiredProp]]) so a later ADD COLUMN of the same
    * name maps to a FRESH physical name and can never resurrect the
    * dropped column's data. Time travel below the commit still reads
    * the column.
    */
  private[graft] def dropColumn(spark: SparkSession, path: String,
                                name: String): Long = {
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val head = latestVersion(spark, path)
      require(head >= 1, s"dropColumn needs an existing table at $path")
      val st = foldState(fs(spark, path), path, head)
      val table = stateSchema(spark, path, st)
      val field = table.fields.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(
          s"DROP COLUMN on $path: no column '$name' in " +
            table.fieldNames.mkString(", ")))
      require(table.fields.length > 1,
        s"DROP COLUMN on $path: cannot drop the only column '$name'")
      val phys = TxMapping.physicalName(field)
      val dropped = org.apache.spark.sql.types.StructType(
        table.fields.filterNot(_.name == name))
      val retired = (TxMapping.retired(st.props) + phys).toSeq.sorted
      commitAt(spark, path, head + 1, "append", Nil, None,
          op = Some("dropColumn"),
          schemaB64 = Some(schemaToB64(dropped)),
          // the FULL replacement property map with the physical name
          // retired — rides the same commit, atomically
          props = Some(st.props +
            (TxMapping.RetiredProp -> retired.mkString(",")))) match {
        case Some(v) => return v
        case None    => attempt += 1 // re-derive on the new head
      }
    }
    throw new IllegalStateException(
      s"could not dropColumn on $path after $MaxCommitRetries lost races")
  }

  /** Resolve files the log names (relative to `path`) to
    * [[org.apache.hadoop.fs.FileStatus]]es — one `listStatus` per
    * STAGING DIRECTORY, not one `getFileStatus` per file: live files
    * group into `data-*` commit dirs, so a 100k-file table costs
    * O(commits) metadata RPCs instead of 100k serial round-trips. A
    * file the log references but the store lost fails loudly with the
    * commit-log framing (the silent alternative is a partial scan
    * reading as a smaller table). Used by the [[TxSnapshotTable]] scans
    * and [[readLogFiles]].
    */
  private[graft] def liveFileStatuses(spark: SparkSession, path: String,
                                      files: Seq[String])
      : Map[String, org.apache.hadoop.fs.FileStatus] = {
    val hfs = fs(spark, path)
    val listed = files
      .groupBy(f => f.lastIndexOf('/') match {
        case -1 => ""
        case i  => f.substring(0, i)
      })
      .flatMap { case (dir, fls) =>
        val want = fls.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
        val root = if (dir.isEmpty) path else s"$path/$dir"
        // a vanished staging dir is missing files, named below
        (try hfs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
         catch { case _: java.io.FileNotFoundException => Nil })
          .filter(s => want.contains(s.getPath.getName))
          .map(s => (if (dir.isEmpty) s.getPath.getName
                     else s"$dir/${s.getPath.getName}") -> s)
      }
    val missing = files.filterNot(listed.contains)
    require(missing.isEmpty,
      s"txtable at $path: the commit log references data files the " +
        s"store no longer holds: ${missing.take(5).mkString(", ")}" +
        (if (missing.size > 5) s" (+${missing.size - 5} more)" else ""))
    listed
  }

  /** Overwrite CLUSTERED by a long-typed column: rows are
    * range-partitioned and sorted by `clusterCol`, and each staged
    * file's (min, max) of that column is recorded IN THE COMMIT LOG —
    * the data-skipping metadata that lets [[readRange]] prune files at
    * planning time from the log alone. This is the 100 TB read-path
    * shape: a point/range lookup on the cluster key touches
    * O(matching files), not O(table), and the planner never lists or
    * footer-reads the skipped files. Stats cost one narrow aggregation
    * over the staged data (a single column, grouped by file).
    * Composes with [[graft.api.Layout]]: z-order the frame first and
    * cluster on the morton column for multi-dimensional skipping.
    */
  def overwriteClustered(spark: SparkSession, path: String, df: DataFrame,
                         clusterCol: String, numFiles: Int = 8,
                         bloomCol: Option[String] = None): Long = {
    import org.apache.spark.sql.functions.col
    val isStr =
      df.schema(clusterCol).dataType == org.apache.spark.sql.types.StringType
    require(isStr || statEncodable(df.schema(clusterCol).dataType),
      s"cluster column '$clusterCol' must be an integral, date, " +
        s"timestamp or string type (its parquet footer min/max must map " +
        s"exactly onto the log's recorded ranges), got " +
        s"${df.schema(clusterCol).dataType} — validated BEFORE staging " +
        "so a bad call cannot orphan a staged dir")
    bloomCol.foreach(c =>
      require(df.schema(c).dataType == org.apache.spark.sql.types.LongType,
        s"bloom column '$c' must be LongType (the probe hashes raw " +
          s"longs), got ${df.schema(c).dataType} — validated BEFORE " +
          "staging so a bad call cannot orphan a staged dir"))
    val sorted = df
      .repartitionByRange(math.max(1, numFiles), col(clusterCol))
      .sortWithinPartitions(clusterCol)
    val files = stage(spark, path, sorted)
    // secondary-key point-lookup index: per-file blooms of `bloomCol`
    // land in the SAME commit record as the cluster stats, so a range
    // probe on the cluster key and a point probe on the bloom key both
    // prune from the log alone
    val (bbits, blooms) = bloomCol match {
      case Some(bc) => bloomStats(spark, path, files, bc)
      case None     => (0, Map.empty[String, String])
    }
    commit(spark, path, "overwrite", files,
      stats =
        if (isStr) Map.empty else footerStats(spark, path, files, clusterCol),
      statsCol = Some(clusterCol),
      sstats =
        if (isStr) footerStrStats(spark, path, files, clusterCol)
        else Map.empty,
      bloomCol = bloomCol, bloomBits = bbits, blooms = blooms)
  }

  /** Per-file (min, max) of `colName` read from the parquet FOOTERS —
    * O(files) metadata reads, zero data scanned: the writer already
    * recorded exact column statistics per row group. A file whose
    * chunks lack usable long statistics (e.g. all-NULL values) gets NO
    * entry — it stays unprunable-but-always-read, which is the
    * conservative-correct direction.
    */
  private def footerStats(spark: SparkSession, path: String,
                          files: Seq[String],
                          colName: String): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { f =>
      try {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$path/$f"), conf))
        try {
          val chunks = r.getFooter.getBlocks.asScala.flatMap(
            _.getColumns.asScala.filter(_.getPath.toDotString == colName))
          val ranges = chunks.flatMap { c =>
            Option(c.getStatistics).filter(_.hasNonNullValue).flatMap(st =>
              (st.genericGetMin, st.genericGetMax) match {
                case (lo: java.lang.Long, hi: java.lang.Long) =>
                  Some((lo.longValue(), hi.longValue()))
                // int32 physical columns: INT/SHORT/BYTE and — the one
                // that matters at 100 TB — DATE (epoch days). Their
                // footer stats surface as Integer; the log's long
                // ranges are order-isomorphic to the column values, so
                // rangeKeep needs no type knowledge.
                case (lo: java.lang.Integer, hi: java.lang.Integer) =>
                  Some((lo.longValue(), hi.longValue()))
                case _ => None
              })
          }
          // every chunk must carry stats, or the file's true range is
          // unknown and it must stay unprunable
          if (ranges.isEmpty || ranges.size != chunks.size) None
          else Some(f -> (ranges.map(_._1).min, ranges.map(_._2).max))
        } finally r.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }.toMap
  }

  /** Truncated string statistics — the Iceberg `truncate` shape. The
    * log records per-file string bounds capped at [[StrStatMaxBytes]]
    * UTF-8 bytes (base64-coded for the JSON log): a PREFIX of the true
    * min is still ≤ every value in byte order, and the truncated max
    * gets its last non-0xFF byte incremented so it stays ≥ every value
    * (all-0xFF prefixes yield an UNBOUNDED max, encoded ""). Both Spark
    * (UTF8String) and parquet (UTF8 logical type) compare strings as
    * unsigned bytes, so the log's byte comparisons agree with the
    * engine's — pinned by the spec against Spark's own sort order.
    */
  private[graft] val StrStatMaxBytes = 64

  private[graft] def truncMin(b: Array[Byte]): Array[Byte] =
    b.take(StrStatMaxBytes)

  private[graft] def truncMax(b: Array[Byte]): Option[Array[Byte]] =
    if (b.length <= StrStatMaxBytes) Some(b)
    else prefixUpper(b.take(StrStatMaxBytes))

  /** The least upper bound (in unsigned byte order) of ALL strings
    * starting with `b`: increment the last non-0xFF byte, dropping the
    * tail (None when every byte is 0xFF — no finite bound). Unlike
    * [[truncMax]] — which may return its input unchanged because the
    * FULL max is itself a valid bound — a PREFIX bound must always
    * increment: `[p, p]` covers only p itself, and using it for
    * `LIKE 'p%'` pruning drops every p-prefixed string beyond the
    * first file (caught by the spec: 28 of 100 rows survived).
    */
  private[graft] def prefixUpper(b: Array[Byte]): Option[Array[Byte]] = {
    val i = b.lastIndexWhere(x => (x & 0xFF) < 0xFF)
    if (i < 0) None else Some(b.take(i) :+ (b(i) + 1).toByte)
  }

  private def b64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)
  private def unb64(s: String): Array[Byte] =
    java.util.Base64.getDecoder.decode(s)

  /** Per-file truncated (min, max) of a STRING column from the parquet
    * footers — the string twin of [[footerStats]]. A file whose chunks
    * lack usable Binary statistics gets no entry (unprunable-but-read,
    * the conservative direction); an entry's hi is "" when the
    * truncated max has no finite upper bound.
    */
  private def footerStrStats(spark: SparkSession, path: String,
                             files: Seq[String],
                             colName: String): Map[String, (String, String)] = {
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    files.flatMap { f =>
      try {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(s"$path/$f"), conf))
        try {
          val chunks = r.getFooter.getBlocks.asScala.flatMap(
            _.getColumns.asScala.filter(_.getPath.toDotString == colName))
          val ranges = chunks.flatMap { c =>
            Option(c.getStatistics).filter(_.hasNonNullValue).flatMap(st =>
              (st.genericGetMin, st.genericGetMax) match {
                case (lo: org.apache.parquet.io.api.Binary,
                      hi: org.apache.parquet.io.api.Binary) =>
                  Some((lo.getBytes, hi.getBytes))
                case _ => None
              })
          }
          if (ranges.isEmpty || ranges.size != chunks.size) None
          else {
            val lo = ranges.map(_._1).min(
              Ordering.comparatorToOrdering(
                java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])))
            val hi = ranges.map(_._2).max(
              Ordering.comparatorToOrdering(
                java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])))
            Some(f -> (b64(truncMin(lo)),
              truncMax(hi).map(b64).getOrElse("")))
          }
        } finally r.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    }.toMap
  }

  /** File `f` can hold a row with string value in [lo, hi] (either
    * bound optional)? Missing sstats → unprunable (kept). */
  private def strRangeKeep(st: State, f: String,
                           lo: Option[Array[Byte]],
                           hi: Option[Array[Byte]]): Boolean =
    st.sstats.get(f) match {
      case Some((flo, fhi)) =>
        val cmp = java.util.Arrays.compareUnsigned(_: Array[Byte], _: Array[Byte])
        // file max < query lo → out; file min > query hi → out
        val belowLo = lo.exists(l => fhi.nonEmpty && cmp(unb64(fhi), l) < 0)
        val aboveHi = hi.exists(h => cmp(unb64(flo), h) > 0)
        !belowLo && !aboveHi
      case None => true
    }

  /** Range read over the cluster column: files whose recorded
    * (lo, hi) cannot intersect [lo, hi] are pruned FROM THE LOG before
    * Spark ever sees them; files without stats (plain appends) are
    * always read — pruning is an optimization, never a correctness
    * filter, so the residual predicate is still applied.
    */
  def readRange(spark: SparkSession, path: String, clusterCol: String,
                lo: Long, hi: Long): DataFrame = {
    import org.apache.spark.sql.functions.col
    val hfs = fs(spark, path)
    val head = latestVersion(spark, path)
    val st = foldState(hfs, path, head)
    require(st.files.nonEmpty, s"version $head of $path holds no files")
    // the recorded stats are FOR st.statsCol — pruning with them
    // against a different column would silently drop rows (bounds of
    // the wrong column); reject loudly instead
    // statsCol records the PHYSICAL name; the caller speaks logical —
    // and must NAME a logical column: a stale pre-rename name would
    // otherwise slip through the physical fallback and surface as an
    // unresolved column only at action time
    logicalSchemaOf(st).foreach(lg => require(
      lg.fieldNames.contains(clusterCol),
      s"no column '$clusterCol' in ${lg.fieldNames.mkString(", ")}"))
    val physCluster = TxMapping.toPhysicalName(logicalSchemaOf(st))(clusterCol)
    st.statsCol.foreach(sc => require(sc == physCluster,
      s"$path is clustered by '$sc', not '$clusterCol' — readRange " +
        "must use the clustered column (or read() + filter)"))
    val kept = st.files.filter(rangeKeep(st, _, lo, hi))
    val base =
      if (kept.isEmpty) readVersion(spark, path, head).limit(0)
      else readStateFiles(spark, path, st, kept)
    base.filter(col(clusterCol) >= lo && col(clusterCol) <= hi)
  }

  /** Overwrite Z-ORDERED by two long columns: rows are laid out along
    * the Morton curve of (xCol, yCol) ([[Layout.zorderFrame]]) — every
    * staged file covers a narrow RECTANGLE of the two-dimensional key
    * space — and each file's exact per-column (min, max) for BOTH
    * dimensions is recorded in the commit log. [[readBox]] then prunes
    * on a conjunction of ranges over either or both columns from the
    * log alone: the multi-dimensional data-skipping shape (Delta/
    * Iceberg's column stats + Z-ORDER BY) where a 100 TB box lookup
    * touches O(files intersecting the box), never O(table). A
    * single-column cluster ([[overwriteClustered]]) prunes perfectly on
    * one key and not at all on the second; the interleave buys both.
    */
  def overwriteZordered(spark: SparkSession, path: String, df: DataFrame,
                        xCol: String, yCol: String, numFiles: Int = 8,
                        bits: Int = 16): Long =
    overwriteZordered(spark, path, df, Seq(xCol, yCol), numFiles, bits)

  /** N-dimensional (2-4 column) z-ordered overwrite: real tables
    * cluster on (tenant, time, key) — the round-robin interleave
    * ([[Layout.zorderFrame]]) costs only code width (n · bits ≤ 62),
    * and each file's exact per-column (min, max) for EVERY dimension
    * lands in the commit log, so [[readBox]] prunes on any subset of
    * the recorded columns. `bits = 0` picks min(16, 62 div n).
    */
  def overwriteZordered(spark: SparkSession, path: String, df: DataFrame,
                        zCols: Seq[String], numFiles: Int,
                        bits: Int): Long = {
    require(zCols.size >= 2 && zCols.size <= 4,
      s"overwriteZordered interleaves 2-4 columns, got ${zCols.size}")
    for (c <- zCols)
      require(statEncodable(df.schema(c).dataType),
        s"z-order dimension '$c' must be an integral, date or timestamp " +
          s"type, got ${df.schema(c).dataType} — validated " +
          "BEFORE staging so a bad call cannot orphan a staged dir")
    val useBits = if (bits == 0) math.min(16, 62 / zCols.size) else bits
    val laid = zorderLaid(df, zCols, math.max(1, numFiles), useBits)
    val files = stage(spark, path, laid)
    // `zbits` lands in the commit record so every later head rewrite
    // (compact/merge/delete) replays the SAME interleave granularity —
    // without it a bits != default table silently re-laid-out at the
    // default on its first compact (results stay correct, rectangle
    // tightness drifts)
    commit(spark, path, "overwrite", files,
      mstats = multiColStats(spark, path, files, zCols),
      statsCols = zCols, zbits = useBits)
  }

  /** [[Layout.zorderFrame]] with TEMPORAL dimensions allowed: DATE /
    * TIMESTAMP / TIMESTAMP_NTZ columns ride the interleave through an
    * internal monotone epoch projection (`unix_micros(CAST(c AS
    * TIMESTAMP))` — order-preserving under a fixed session zone, which
    * is all a space-filling curve needs; zorderFrame then normalizes
    * by the observed (min, max) anyway). The projection exists ONLY
    * for layout: the recorded mstats come from the ORIGINAL columns'
    * parquet footers (exact epoch-day/micros stat encodings), so
    * pruning semantics never depend on it. `(event_date, user_id)` —
    * the canonical 100-TB events layout — works out of the box.
    */
  private def zorderLaid(df: DataFrame, zCols: Seq[String], target: Int,
                         bits: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    val temporal = zCols.filter(c => Seq(DateType, TimestampType,
      TimestampNTZType).contains(df.schema(c).dataType)).toSet
    if (temporal.isEmpty) Layout.zorderFrame(df, zCols, target, bits)
    else {
      val enc = temporal.foldLeft(df)((d, c) =>
        d.withColumn(s"__zenc_$c",
          expr(s"unix_micros(CAST(`${c.replace("`", "``")}` AS TIMESTAMP))")))
      val layoutCols = zCols.map(c => if (temporal(c)) s"__zenc_$c" else c)
      Layout.zorderFrame(enc, layoutCols, target, bits)
        .select(df.columns.toIndexedSeq.map(c =>
          col("`" + c.replace("`", "``") + "`")): _*)
    }
  }

  /** Per-file footer (min, max) for EACH of `cols`, aligned with the
    * column order. A file missing usable stats for ANY column gets no
    * entry — it stays unprunable-but-always-read on every dimension
    * (partial per-column entries would be sound too, but all-or-nothing
    * keeps the record aligned and the conservative direction is free).
    */
  private def multiColStats(spark: SparkSession, path: String,
                            files: Seq[String], cols: Seq[String])
      : Map[String, Seq[(Long, Long)]] = {
    val perCol = cols.map(c => footerStats(spark, path, files, c))
    files.flatMap { f =>
      val rs = perCol.map(_.get(f))
      if (rs.forall(_.isDefined)) Some(f -> rs.map(_.get)) else None
    }.toMap
  }

  /** Box read over z-ordered dimensions: a conjunction of [lo, hi]
    * ranges, one per named column (either one or both of the recorded
    * dimensions). Files whose recorded rectangle cannot intersect the
    * box are pruned FROM THE LOG; files without stats (plain appends)
    * are always read — pruning is an optimization, never a correctness
    * filter, and the residual predicate is always applied. A box on a
    * column the table does not record stats for rejects loudly.
    */
  def readBox(spark: SparkSession, path: String,
              box: Seq[(String, Long, Long)]): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(box.nonEmpty, "readBox needs at least one (column, lo, hi)")
    val hfs = fs(spark, path)
    val head = latestVersion(spark, path)
    val st = foldState(hfs, path, head)
    require(st.files.nonEmpty, s"version $head of $path holds no files")
    require(st.statsCols.nonEmpty,
      s"$path carries no multi-column stats — write it with " +
        "overwriteZordered (or use read() + filter)")
    // statsCols record PHYSICAL names; the caller speaks logical —
    // and must NAME logical columns (see readRange's stale-name note)
    logicalSchemaOf(st).foreach(lg => box.foreach { case (c, _, _) =>
      require(lg.fieldNames.contains(c),
        s"no column '$c' in ${lg.fieldNames.mkString(", ")}") })
    val toPhys = TxMapping.toPhysicalName(logicalSchemaOf(st))
    box.foreach { case (c, _, _) => require(st.statsCols.contains(toPhys(c)),
      s"$path records stats for [${st.statsCols.mkString(",")}], " +
        s"not '$c' — readBox must use recorded dimensions") }
    val kept = st.files.filter(f =>
      box.forall { case (c, lo, hi) => boxKeep(st, f, toPhys(c), lo, hi) })
    val base =
      if (kept.isEmpty) readVersion(spark, path, head).limit(0)
      else readStateFiles(spark, path, st, kept)
    box.foldLeft(base) { case (d, (c, lo, hi)) =>
      d.filter(col(c) >= lo && col(c) <= hi)
    }
  }

  /** [[readBox]] with TYPED bounds — the box twin of [[readRangeOf]]:
    * each dimension's bounds are literals of the column's external type
    * (java.sql.Date / Timestamp, their java.time twins, or boxed
    * integrals); pruning runs on their [[statLong]] encoding against
    * the recorded per-file rectangles while the residual compares the
    * TYPED values, so `(event_date BETWEEN …) AND (user_id BETWEEN …)`
    * over a temporally z-ordered table prunes from the log alone.
    */
  def readBoxOf(spark: SparkSession, path: String,
                box: Seq[(String, Any, Any)]): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(box.nonEmpty, "readBoxOf needs at least one (column, lo, hi)")
    val encoded = box.map { case (c, lo, hi) =>
      (statLong(lo), statLong(hi)) match {
        case (Some(a), Some(b)) => (c, a, b)
        case _ => throw new IllegalArgumentException(
          s"readBoxOf bounds for '$c' must be integral/date/timestamp " +
            s"literals, got ${lo.getClass.getName} / ${hi.getClass.getName}")
      }
    }
    val hfs = fs(spark, path)
    val head = latestVersion(spark, path)
    val st = foldState(hfs, path, head)
    require(st.files.nonEmpty, s"version $head of $path holds no files")
    require(st.statsCols.nonEmpty,
      s"$path carries no multi-column stats — write it with " +
        "overwriteZordered (or use read() + filter)")
    logicalSchemaOf(st).foreach(lg => box.foreach { case (c, _, _) =>
      require(lg.fieldNames.contains(c),
        s"no column '$c' in ${lg.fieldNames.mkString(", ")}") })
    val toPhysB = TxMapping.toPhysicalName(logicalSchemaOf(st))
    box.foreach { case (c, _, _) => require(st.statsCols.contains(toPhysB(c)),
      s"$path records stats for [${st.statsCols.mkString(",")}], " +
        s"not '$c' — readBoxOf must use recorded dimensions") }
    val boxSchema = stateSchema(spark, path, st)
    box.foreach { case (c, lo, hi) =>
      boxSchema.fields.find(_.name == c).foreach { f =>
        requireFlavorMatch(f.dataType, c, lo, "readBoxOf")
        requireFlavorMatch(f.dataType, c, hi, "readBoxOf")
      }
    }
    val kept = st.files.filter(f =>
      encoded.forall { case (c, lo, hi) => boxKeep(st, f, toPhysB(c), lo, hi) })
    val base =
      if (kept.isEmpty) readVersion(spark, path, head).limit(0)
      else readStateFiles(spark, path, st, kept)
    box.foldLeft(base) { case (d, (c, lo, hi)) =>
      d.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
    }
  }

  /** Hash functions per bloom filter. Fixed: the reader re-derives the
    * writer's positions, so the count is part of the on-log format.
    */
  val BloomHashes = 5

  /** Bloom size for a file of `n` keys: ~10 bits/key (≈1% false
    * positives at 5 hashes), power of two, floored at 4096 bits. One
    * size per COMMIT (the max over its files) so the record carries a
    * single `bloomBits` the reader can re-derive positions from.
    */
  private def bloomBitsFor(maxRowsPerFile: Long): Int = {
    val want = math.max(4096L, maxRowsPerFile * 10L)
    var b = 4096
    while (b < want && b < (1 << 24)) b <<= 1
    b
  }

  /** The i-th bloom position of long key `v` in `bits` buckets —
    * driver-side twin of the executor expression in [[bloomStats]]:
    * Spark's `xxhash64(v, i)` folds children left-to-right from seed
    * 42, i.e. `hashLong(i, hashLong(v, 42))`, and `pmod` is the
    * positive remainder. BloomSpec pins the two paths equal.
    */
  private[graft] def bloomPosition(v: Long, i: Long, bits: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    val h = XXH64.hashLong(i, XXH64.hashLong(v, 42L))
    (((h % bits) + bits) % bits).toInt
  }

  /** Parse the hex payload ONCE per file; probe many values against
    * the parsed set — a pushed IN of dozens of values over a bloom of
    * up to 2^24 bits must not re-parse megabytes of hex per value.
    */
  private def bloomAnyContain(hex: String, bits: Int,
                              vs: Seq[Long]): Boolean = {
    val bs = java.util.BitSet.valueOf(hexToBytes(hex))
    vs.exists(v =>
      (0 until BloomHashes).forall(i => bs.get(bloomPosition(v, i.toLong, bits))))
  }

  private def hexToBytes(hex: String): Array[Byte] =
    hex.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** Per-file bloom filters of `colName` over freshly-staged files:
    * one narrow scan of the staged data computes each row's
    * [[BloomHashes]] positions, folds them to ≤bits distinct positions
    * per file on the executors (`collect_set` per file, bounded by
    * `bits`, never by rows), and PACKS each file's bitset to its hex
    * payload there too — the driver collects one bits/4-char string
    * per file (the exact bytes the commit record will carry), never
    * the position sets themselves: at bloomBits up to 2^24 a wide
    * clustered overwrite would otherwise pull
    * O(files × bits × 8 bytes) of Long positions into the driver, 64×
    * the packed form. Every staged file gets an entry (an empty file's
    * all-zero bloom correctly excludes everything); NULL keys set no
    * bits, which is sound because [[readPoints]] looks up concrete
    * values only. Returns (bits, file → hex bitset).
    */
  private def bloomStats(spark: SparkSession, path: String,
                         files: Seq[String], colName: String,
                         fixedBits: Option[Int] = None)
      : (Int, Map[String, String]) = {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val data = readLogFiles(spark, path, files,
        footerSchema(spark, path, files.head))
      .select(input_file_name().as("_f"), col(colName).as("_v"))
      .filter(col("_v").isNotNull)
    val counts = data.groupBy("_f").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a file-level rewrite packs fresh blooms at the HEAD's recorded
    // width: the log carries one bloomBits per epoch and the carried
    // files' payloads are already packed at it — a wider fresh width
    // would mis-derive every carried probe position
    val bits = fixedBits.getOrElse(
      bloomBitsFor(if (counts.isEmpty) 0L else counts.values.max))
    // the packing lambda captures only locals (bits), never the
    // enclosing object — TxTable is not Serializable and must not ride
    // a task closure. Byte/bit layout matches java.util.BitSet
    // (little-endian within bytes: bit p lives at byte p>>3, bit p&7),
    // which is what bloomMightContain's BitSet.valueOf re-reads.
    val positions: Map[String, String] = data
      .select(col("_f"), explode(array((0 until BloomHashes).map(i =>
        pmod(xxhash64(col("_v"), lit(i.toLong)), lit(bits))): _*)).as("_p"))
      .groupBy("_f").agg(collect_set(col("_p")).as("ps"))
      .as[(String, Seq[Long])]
      .map { case (f, ps) =>
        val bytes = new Array[Byte](bits / 8)
        ps.foreach { p =>
          val i = p.toInt
          bytes(i >> 3) = (bytes(i >> 3) | (1 << (i & 7))).toByte
        }
        (f, bytes.map(b => f"${b & 0xff}%02x").mkString)
      }
      .collect().toMap
    val empty = "00" * (bits / 8)
    val byRel = files.map { rel =>
      rel -> positions.collectFirst {
        case (uri, hex) if uri.endsWith("/" + rel) => hex
      }.getOrElse(empty)
    }.toMap
    (bits, byRel)
  }

  /** Point-lookup read over a bloom-indexed column: files whose bloom
    * filter excludes EVERY probed value are pruned FROM THE LOG before
    * Spark lists them — the secondary-key point-lookup shape (Delta's
    * bloom filter index): the table stays laid out by its cluster
    * column, and an equality probe on a DIFFERENT column still touches
    * O(files containing the value) + false positives, never O(table).
    * Blooms have no false negatives (every present key set its bits at
    * write time), files without a bloom entry (plain appends) are
    * always read, and the equality filter is always applied — pruning
    * is an optimization, never a correctness filter. A probe on a
    * column the table carries no blooms for rejects loudly.
    */
  def readPoints(spark: SparkSession, path: String, keyCol: String,
                 values: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.functions.col
    require(values.nonEmpty, "readPoints needs at least one value")
    val hfs = fs(spark, path)
    val head = latestVersion(spark, path)
    val st = foldState(hfs, path, head)
    require(st.files.nonEmpty, s"version $head of $path holds no files")
    logicalSchemaOf(st).foreach(lg => require(
      lg.fieldNames.contains(keyCol),
      s"no column '$keyCol' in ${lg.fieldNames.mkString(", ")}"))
    val physKey = TxMapping.toPhysicalName(logicalSchemaOf(st))(keyCol)
    require(st.bloomCol.contains(physKey),
      s"$path carries blooms for ${st.bloomCol.getOrElse("no column")}, " +
        s"not '$keyCol' — readPoints must use the bloom-indexed column " +
        "(or read() + filter)")
    val kept = st.files.filter(bloomKeep(st, _, values))
    val base =
      if (kept.isEmpty) readVersion(spark, path, head).limit(0)
      else readStateFiles(spark, path, st, kept)
    base.filter(col(keyCol).isin(values: _*))
  }

  // ---- shared per-file pruning predicates: readRange / readBox /
  // readPoints and the data source's prunedFiles must evaluate the SAME
  // tests, or the programmatic and pushed paths drift ----

  /** Types whose parquet footer min/max map EXACTLY (and
    * order-isomorphically) onto the log's long stat ranges: integrals
    * (int64/int32 stats), DATE (int32 epoch days) and both timestamp
    * flavors (int64 epoch/wall-clock micros — [[stage]] forces
    * TIMESTAMP_MICROS so LTZ never lands as statless INT96). Floating
    * point and strings are excluded on purpose: their footer stats are
    * not losslessly long-encodable (doubles reorder across the sign
    * bit; string min/max are writer-truncatable), and a wrong mapping
    * here silently DROPS data files.
    */
  private[graft] def statEncodable(
      dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType | IntegerType | ShortType | ByteType |
           DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
  }

  /** The long stat encoding of a filter/bound VALUE of a
    * stat-encodable column — the exact inverse of what the parquet
    * footer records for that column's physical type (epoch days for
    * DATE, epoch micros for TIMESTAMP, wall-clock micros for
    * TIMESTAMP_NTZ). Spark hands V1 sources java.sql types by default
    * and java.time types under `spark.sql.datetime.java8API.enabled`;
    * both arrive here. Conversions delegate to Catalyst's own
    * DateTimeUtils so this mapping can never drift from the values
    * Spark wrote. None for anything else — the caller must then treat
    * the predicate as unprunable, the conservative direction.
    */
  private[graft] def statLong(v: Any): Option[Long] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    v match {
      case l: Long                      => Some(l)
      case i: Int                       => Some(i.toLong)
      case s: Short                     => Some(s.toLong)
      case b: Byte                      => Some(b.toLong)
      case d: java.sql.Date             => Some(DateTimeUtils.fromJavaDate(d).toLong)
      case d: java.time.LocalDate       => Some(d.toEpochDay)
      case t: java.sql.Timestamp        => Some(DateTimeUtils.fromJavaTimestamp(t))
      case i: java.time.Instant         => Some(DateTimeUtils.instantToMicros(i))
      case l: java.time.LocalDateTime   => Some(DateTimeUtils.localDateTimeToMicros(l))
      case _                            => None
    }
  }

  /** A typed bound must carry the SAME datetime flavor as the column it
    * prunes: [[statLong]] encodes java.sql.Timestamp/Instant as
    * SESSION-ZONE epoch micros and LocalDateTime as WALL-CLOCK micros,
    * while a TIMESTAMP_NTZ-clustered table's recorded ranges are
    * wall-clock micros (and a TIMESTAMP table's are epoch micros) — so
    * a cross-flavor bound shifts pruning by the zone offset and can
    * silently DROP files whose rows the residual filter would keep.
    * Rejected loudly against the snapshot schema instead. Unlisted
    * column types pass through: statLong/strRangeKeep already treat
    * them conservatively.
    */
  private def requireFlavorMatch(dt: org.apache.spark.sql.types.DataType,
                                 c: String, v: Any, what: String): Unit = {
    import org.apache.spark.sql.types._
    val ok = dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        v.isInstanceOf[Byte] || v.isInstanceOf[Short] ||
          v.isInstanceOf[Int] || v.isInstanceOf[Long]
      case DateType =>
        v.isInstanceOf[java.sql.Date] || v.isInstanceOf[java.time.LocalDate]
      case TimestampType =>
        v.isInstanceOf[java.sql.Timestamp] || v.isInstanceOf[java.time.Instant]
      case TimestampNTZType => v.isInstanceOf[java.time.LocalDateTime]
      case StringType       => v.isInstanceOf[String]
      case _                => true
    }
    require(ok,
      s"$what bound for '$c' (${dt.simpleString}) has the wrong external " +
        s"type ${v.getClass.getName}: use " + (dt match {
          case TimestampNTZType => "java.time.LocalDateTime (wall-clock)"
          case TimestampType    => "java.sql.Timestamp or java.time.Instant"
          case DateType         => "java.sql.Date or java.time.LocalDate"
          case StringType       => "String"
          case _                => "an integral value"
        }) + " — a cross-flavor datetime bound would shift file pruning " +
        "by the session-zone offset and silently drop matching files")
  }

  /** [[readRange]] for DATE / TIMESTAMP / integral cluster columns with
    * TYPED bounds: `WHERE event_date >= X` is the single most common
    * pruning predicate at 100 TB, and the log's ranges for a
    * date-clustered table are epoch days already. Bounds must be
    * literals of the column's external type (java.sql.Date /
    * java.time.LocalDate for DATE, java.sql.Timestamp /
    * java.time.Instant for TIMESTAMP, java.time.LocalDateTime for
    * TIMESTAMP_NTZ, boxed integrals for int columns) — enforced against
    * the snapshot schema ([[requireFlavorMatch]]); the file-level
    * pruning runs on their [[statLong]] encoding while the residual row
    * filter compares the TYPED values, so the two layers can never
    * disagree on semantics.
    */
  def readRangeOf(spark: SparkSession, path: String, clusterCol: String,
                  lo: Any, hi: Any): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val hfs = fs(spark, path)
    val head = latestVersion(spark, path)
    val st = foldState(hfs, path, head)
    require(st.files.nonEmpty, s"version $head of $path holds no files")
    logicalSchemaOf(st).foreach(lg => require(
      lg.fieldNames.contains(clusterCol),
      s"no column '$clusterCol' in ${lg.fieldNames.mkString(", ")}"))
    val physCluster = TxMapping.toPhysicalName(logicalSchemaOf(st))(clusterCol)
    st.statsCol.foreach(sc => require(sc == physCluster,
      s"$path is clustered by '$sc', not '$clusterCol' — readRangeOf " +
        "must use the clustered column (or read() + filter)"))
    stateSchema(spark, path, st).fields.find(_.name == clusterCol)
      .foreach { f =>
        requireFlavorMatch(f.dataType, clusterCol, lo, "readRangeOf")
        requireFlavorMatch(f.dataType, clusterCol, hi, "readRangeOf")
      }
    val kept = (lo, hi) match {
      case (ls: String, hs: String) =>
        st.files.filter(strRangeKeep(st, _,
          Some(ls.getBytes("UTF-8")), Some(hs.getBytes("UTF-8"))))
      case _ =>
        val (ll, hl) = (statLong(lo), statLong(hi)) match {
          case (Some(a), Some(b)) => (a, b)
          case _ => throw new IllegalArgumentException(
            s"readRangeOf bounds must be integral/date/timestamp/string " +
              s"literals, got ${lo.getClass.getName} / ${hi.getClass.getName}")
        }
        st.files.filter(rangeKeep(st, _, ll, hl))
    }
    val base =
      if (kept.isEmpty) readVersion(spark, path, head).limit(0)
      else readStateFiles(spark, path, st, kept)
    base.filter(col(clusterCol) >= lit(lo) && col(clusterCol) <= lit(hi))
  }

  /** File `f` can hold a row with statsCol value in [lo, hi]?
    * Missing stats → unprunable (kept). */
  private def rangeKeep(st: State, f: String, lo: Long, hi: Long): Boolean =
    st.stats.get(f) match {
      case Some((flo, fhi)) => fhi >= lo && flo <= hi
      case None             => true
    }

  /** File `f`'s recorded rectangle can intersect [lo, hi] on recorded
    * dimension `c`? Missing/malformed mstats → unprunable (kept). */
  private def boxKeep(st: State, f: String, c: String,
                      lo: Long, hi: Long): Boolean =
    st.mstats.get(f) match {
      case Some(rs) if rs.size == st.statsCols.size =>
        val (flo, fhi) = rs(st.statsCols.indexOf(c))
        fhi >= lo && flo <= hi
      case _ => true
    }

  /** File `f`'s bloom can contain ANY of `vs`? No bloom → kept. */
  private def bloomKeep(st: State, f: String, vs: Seq[Long]): Boolean =
    st.blooms.get(f) match {
      case Some(hex) => bloomAnyContain(hex, st.bloomBits, vs)
      case None      => true
    }

  /** One fold of the log at `version` for callers that derive several
    * things from it (the data source folds ONCE per relation and reads
    * schema + pruning from the same snapshot instead of re-listing and
    * re-folding per step).
    */
  private[graft] def snapshotState(spark: SparkSession, path: String,
                                   version: Long): State =
    foldState(fs(spark, path), path, version)

  /** Log-level file pruning for the `txtable` Spark data source
    * ([[TxTableSource]]): fold the state at `version` and keep only
    * files whose recorded metadata can satisfy a CONJUNCTION of
    * per-column constraints — `ranges` as inclusive [lo, hi] against
    * the cluster-column stats or any recorded z-order dimension,
    * `points` as IN-sets against the bloom column. Strictly
    * conservative: a file is dropped only when its recorded metadata
    * PROVES no row can match (missing stats → kept), and the caller
    * must still apply the real predicates — pruning is an
    * optimization, never a correctness filter. Returns the kept
    * RELATIVE file names (resolve against `path`).
    */
  private[graft] def prunedFiles(st: State,
                                 ranges0: Map[String, (Long, Long)],
                                 points0: Map[String, Seq[Long]],
                                 strRanges0: Map[String,
                                   (Option[String], Option[String])] = Map.empty)
      : Seq[String] = {
    // constraints arrive keyed by LOGICAL column names; the recorded
    // skipping metadata (statsCol/statsCols/bloomCol and their maps)
    // is keyed by the PHYSICAL names the footers carry — translate
    // once here, the single choke point every pruning caller shares
    // (identity for unmapped tables)
    val (ranges, points, strRanges) = logicalSchemaOf(st)
      .filter(TxMapping.isMapped) match {
        case Some(lg) => (TxMapping.keysToPhysical(ranges0, lg),
          TxMapping.keysToPhysical(points0, lg),
          TxMapping.keysToPhysical(strRanges0, lg))
        case None => (ranges0, points0, strRanges0)
      }
    st.files.filter { f =>
      val rangeOk = ranges.forall { case (c, (lo, hi)) =>
        (!st.statsCol.contains(c) || rangeKeep(st, f, lo, hi)) &&
          (!st.statsCols.contains(c) || boxKeep(st, f, c, lo, hi))
      }
      val strOk = strRanges.forall { case (c, (lo, hi)) =>
        !st.statsCol.contains(c) ||
          strRangeKeep(st, f, lo.map(_.getBytes("UTF-8")),
            hi.map(_.getBytes("UTF-8")))
      }
      val pointOk = points.forall { case (c, vs) =>
        !st.bloomCol.contains(c) || bloomKeep(st, f, vs)
      }
      rangeOk && strOk && pointOk
    }
  }

  /** Roll the table back (or forward) to exactly `version`'s content as
    * a NEW overwrite commit — METADATA-ONLY: the commit re-references
    * `version`'s immutable files (plus their skipping stats and
    * blooms), so no data is copied or rewritten no matter the table
    * size, history stays linear (the bad versions remain readable), and
    * [[vacuum]] can never collect the restored files because the log
    * still reaches them. This is the Delta RESTORE shape.
    */
  def restore(spark: SparkSession, path: String, version: Long): Long = {
    val hfs = fs(spark, path)
    require(logVersions(hfs, path)._1.exists(_ <= version),
      s"no commits at or below version $version in $path")
    val st = foldState(hfs, path, version)
    require(st.files.nonEmpty, s"version $version of $path holds no files")
    commit(spark, path, "overwrite", st.files,
      stats = st.stats, statsCol = st.statsCol,
      mstats = st.mstats, statsCols = st.statsCols,
      bloomCol = st.bloomCol, bloomBits = st.bloomBits, blooms = st.blooms,
      zbits = st.zbits, op = Some("restore"),
      // the metadata-only re-reference must carry EVERY pruning/schema
      // record of the target version: dropping sstats silently erases
      // string pruning, dropping schemaB64 narrows an evolved head —
      // and dropping dels would RESURRECT the target's deleted rows
      schemaB64 = st.schemaB64, sstats = st.sstats, dels = st.dels)
  }

  /** Change data feed: the row-level diff between two snapshots, each
    * row tagged `_change` = insert (in `toVersion`, not `fromVersion`)
    * or delete (the reverse), with bag semantics (a row appearing
    * twice more is two inserts).
    *
    * FILE-LEVEL: data files are immutable, so rows in files live in
    * BOTH versions cancel exactly without being read — only the
    * symmetric difference of the two file sets is scanned, then
    * `EXCEPT ALL` in both directions cancels rows that merely MOVED
    * files (a compact produces zero changes while rewriting
    * everything). An append-only window therefore reads just the
    * appended files — increment-proportional, the 100 TB CDC shape —
    * while a full-rewrite window degrades to reading both rewritten
    * sides, never more.
    */
  def changes(spark: SparkSession, path: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.lit
    require(fromVersion <= toVersion,
      s"changes needs fromVersion <= toVersion, got $fromVersion > $toVersion")
    val hfs0 = fs(spark, path)
    require(logVersions(hfs0, path)._1.exists(_ <= fromVersion),
      s"no commits at or below version $fromVersion in $path")
    val stTo = foldState(hfs0, path, toVersion)
    val stFrom = foldState(hfs0, path, fromVersion)
    val from = stFrom.files.toSet
    val to = stTo.files.toSet
    // an empty side must be an empty LOCAL relation, not a limit(0)
    // over the snapshot — the latter still lists the snapshot's files,
    // and the whole point is that shared files are never touched. BOTH
    // sides read under the TO-version's effective schema (one footer
    // absent evolution), so a diff spanning an evolveAppend compares
    // rows in one shape — pre-evolution files null-fill new columns
    lazy val schema = stTo.schemaB64.map(_ => stateSchema(spark, path, stTo))
      .getOrElse(footerSchema(spark, path, (to ++ from).head))
    // position deletes: a file live at BOTH endpoints whose delete set
    // CHANGED between them holds row-level changes the file-set
    // symmetric difference cannot see — read it on both sides (each
    // side DV-applied as of its own version) and let EXCEPT ALL cancel
    // the still-live rows. DV-free windows skip all of this.
    val dvChanged: Set[String] =
      if (stFrom.dels.isEmpty && stTo.dels.isEmpty) Set.empty
      else {
        val dvF = delPositions(spark, path, stFrom)
        val dvT = delPositions(spark, path, stTo)
        (from intersect to).filter(f => !java.util.Arrays.equals(
          dvF.getOrElse(f, Array.empty[Long]),
          dvT.getOrElse(f, Array.empty[Long])))
      }
    def rd(st: State, fs: Set[String]): DataFrame =
      if (fs.isEmpty) spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        TxMapping.stripMapping(schema))
      else {
        // files carry PHYSICAL names; the feed speaks the TO-version's
        // logical names — read physical, DV-filter, rename at the end
        val base = readLogFiles(spark, path, fs.toSeq.sorted,
          TxMapping.toPhysicalSchema(schema))
        val dvApplied =
          if (st.dels.isEmpty) base
          else {
            import org.apache.spark.sql.functions.{col, regexp_extract}
            base
              .withColumn("__graft_dv_f",
                regexp_extract(col("_metadata.file_path"), RelNameRegex, 0))
              .withColumn("__graft_dv_pos", col("_metadata.row_index"))
              .join(delRows(spark, path, st).select(
                col("f").as("__graft_dv_f"), col("pos").as("__graft_dv_pos")),
                Seq("__graft_dv_f", "__graft_dv_pos"), "left_anti")
              .drop("__graft_dv_f", "__graft_dv_pos")
          }
        TxMapping.toLogicalDf(dvApplied, schema)
      }
    val addFs = (to -- from) ++ dvChanged
    val remFs = (from -- to) ++ dvChanged
    val added = rd(stTo, addFs)
    val removed = rd(stFrom, remFs)
    // ONE-SIDED fast paths (round 22): when a side's file set is empty
    // the EXCEPT ALL pair cancels nothing — `added \ ∅ = added` by bag
    // semantics — so an append-only window (the dominant CDC shape,
    // and exactly what makes this feed increment-proportional at
    // 100 TB) serves its files as inserts with NO aggregation at all,
    // instead of paying two hash-distinct-count plans over the
    // increment. Row- and schema-identical: the skipped branch is a
    // guaranteed-empty local relation, and the empty-window case keeps
    // the full shape so the result frame's columns never vary.
    if (remFs.isEmpty && addFs.nonEmpty)
      added.withColumn("_change", lit("insert"))
    else if (addFs.isEmpty && remFs.nonEmpty)
      removed.withColumn("_change", lit("delete"))
    else
      added.exceptAll(removed).withColumn("_change", lit("insert"))
        .unionByName(removed.exceptAll(added).withColumn("_change", lit("delete")))
  }

  /** Column names the change feed reserves. */
  val ChangeCol = "_change"
  val VersionCol = "_version"

  /** Row-level change data feed over (fromVersion, toVersion]: table
    * columns + `_change` + `_version`, one batch of change rows per
    * commit in the window, resolved per commit record:
    *
    *  - a commit carrying STAGED change files (a [[merge]] or
    *    [[deleteWhere]] run with `cdf = true`) serves them verbatim —
    *    `update_preimage` / `update_postimage` / `insert` / `delete`
    *    rows with both images of every update, read from
    *    increment-sized files, never the table;
    *  - an `append` commit IS its change data: its immutable data files
    *    are served as `insert` rows directly — appends never pay a CDF
    *    staging write;
    *  - a `compact` or [[restore]]-of-head commit is content-identical
    *    by construction: zero change rows, zero files read;
    *  - any other overwrite (including merge/delete with `cdf = false`)
    *    falls back to the file-level bag diff of [[changes]] for that
    *    single version step — correct insert/delete rows, but no update
    *    pairing and it reads the rewritten file sets. The feed is total
    *    over any history; enabling `cdf` buys precision and
    *    increment-proportional reads, never correctness.
    *
    * Replaying the feed onto the `fromVersion` snapshot (apply deletes
    * and preimage removals, add inserts and postimages, in `_version`
    * order) reproduces `toVersion` exactly — TxTableSpec pins it.
    */
  def changesRows(spark: SparkSession, path: String,
                  fromVersion: Long, toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    require(fromVersion <= toVersion,
      s"changesRows needs fromVersion <= toVersion, got $fromVersion > $toVersion")
    val hfs = fs(spark, path)
    val allVs = logVersions(hfs, path)._1
    // an [[expireHistory]] cutoff below the window start would SILENTLY
    // drop the expired versions' changes from the feed (their records
    // no longer list) — a lagging consumer must re-bootstrap, loudly
    allVs.headOption.filter(e => e > 1 && fromVersion < e - 1).foreach(e =>
      throw new IllegalStateException(
        s"changesRows on $path: history below version $e was expired " +
          s"(expireHistory), but the window starts at $fromVersion — " +
          "this consumer lags the retention horizon; re-bootstrap it " +
          "from a snapshot read and a fresh cursor"))
    val commits = allVs
      .filter(v => v > fromVersion && v <= toVersion)
      .map(v => parse(readSmall(hfs,
        new org.apache.hadoop.fs.Path(commitPath(path, v)))))
    // column mapping: raw-file batches rename to THEIR version's
    // logical names (staged cdf files already carry them). A window
    // spanning a RENAME unions old- and new-name batches under
    // allowMissingColumns — the same window-shape semantics the feed
    // documents for evolution. Only consulted on mapped tables, and
    // derived INCREMENTALLY from the already-parsed commit records
    // (one anchor fold at the window start, then the same
    // latest-schemaB64-wins walk the state fold performs) — a
    // per-version refold would cost O(window²) record reads.
    lazy val anyMapped =
      logicalSchemaOf(foldState(hfs, path, toVersion))
        .exists(TxMapping.isMapped)
    lazy val schemaB64At: Map[Long, Option[String]] = {
      var cur =
        if (fromVersion == 0) None
        else foldState(hfs, path, fromVersion).schemaB64
      commits.map { c =>
        cur =
          if (c.action == "overwrite") c.schemaB64
          else c.schemaB64.orElse(cur)
        c.version -> cur
      }.toMap
    }
    def toLogicalAt(df: DataFrame, v: Long): DataFrame =
      if (!anyMapped) df
      else schemaB64At.getOrElse(v, None).map(schemaFromB64)
        .fold(df)(l => TxMapping.toLogicalDf(df, l))
    // schema comes from one staged cdf file if any commit has one (they
    // already carry _change); otherwise from the file-diff fallback
    val batches = commits.flatMap { c =>
      if (c.cdf.nonEmpty)
        // one commit's staged cdf files share one schema (staged in a
        // single write) — footer-cached, no per-call inference
        Some(readLogFiles(spark, path, c.cdf,
            footerSchema(spark, path, c.cdf.head))
          .withColumn(VersionCol, lit(c.version)))
      else if (c.action == "dv") {
        // position-delete commit without staged cdf: the feed is still
        // PRECISE — deletes are the del rows joined back to their
        // referenced files' pre-version rows (reads only the touched
        // files), inserts are the commit's new image files. A dv
        // commit's positions are live at version-1 by construction
        // (the verbs match over DV-applied rows), so no pre-dels
        // exclusion is needed here.
        val hfs2 = fs(spark, path)
        val pre = foldState(hfs2, path, c.version - 1)
        val delsDf = readLogFiles(spark, path, c.dels, DelSchema)
        val refFiles = delsDf.select("f").distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        val deletes = readWithPos(spark, path, pre, refFiles)
          .join(delsDf.select(col("f").as("__graft_dv_f"),
            col("pos").as("__graft_dv_pos")),
            Seq("__graft_dv_f", "__graft_dv_pos"))
          .drop("__graft_dv_f", "__graft_dv_pos")
          .withColumn(ChangeCol, lit("delete"))
        val both =
          if (c.files.isEmpty) deletes
          else deletes.unionByName(
            readLogFiles(spark, path, c.files,
                footerSchema(spark, path, c.files.head))
              .withColumn(ChangeCol, lit("insert")))
        Some(toLogicalAt(both, c.version)
          .withColumn(VersionCol, lit(c.version)))
      }
      else if (c.action == "append" || c.version == 1L) {
        // an append's files ARE its inserts; so are v1's (creation —
        // there is no v0 snapshot to diff against). A DATA-LESS append
        // (ALTER ADD COLUMN / SET TBLPROPERTIES) is zero change rows.
        if (c.files.isEmpty) None
        else Some(toLogicalAt(
          readLogFiles(spark, path, c.files,
            footerSchema(spark, path, c.files.head)), c.version)
          .withColumn(ChangeCol, lit("insert"))
          .withColumn(VersionCol, lit(c.version)))
      }
      else if (c.op.exists(o => o == "compact" || o == "compactSmall") ||
               (c.op.contains("restore") &&
                 liveFiles(spark, path, c.version - 1).toSet == c.files.toSet))
        None // content-identical commit: zero change rows by construction
      else
        Some(changes(spark, path, c.version - 1, c.version)
          .withColumn(VersionCol, lit(c.version)))
    }
    // allowMissingColumns: a window spanning an evolveAppend unions
    // pre- and post-evolution batches — older batches null-fill the
    // columns the evolution added (the feed reads in the window-head
    // shape); identical-schema windows are unaffected
    batches.reduceOption(_.unionByName(_, allowMissingColumns = true)).getOrElse {
      // empty window: an empty frame with the table's shape. A table
      // with NO commits has no schema to shape it with — reject with
      // the real reason instead of letting readVersion(0)'s
      // "no commits at or below version 0" require mislead the caller
      if (toVersion == 0)
        throw new IllegalArgumentException(
          s"changesRows on $path: the table has no commits yet")
      readVersion(spark, path, toVersion).limit(0)
        .withColumn(ChangeCol, lit(""))
        .withColumn(VersionCol, lit(0L))
    }
  }

  /** One poll of the change feed: the row-level changes for
    * `(fromVersion, toVersion]` plus the `ack` that durably advances
    * the cursor to `toVersion`.
    */
  final case class ChangePoll(changes: DataFrame, fromVersion: Long,
                              toVersion: Long, ack: () => Unit)

  /** Exactly-once INCREMENTAL consumption of the change feed — the
    * consumer half of the CDC story ([[streamAppend]] is the producer
    * half): a durable cursor under `cursorDir` records the last
    * version whose changes the caller ACKNOWLEDGED, and each poll
    * returns [[changesRows]] over `(cursor, head]` plus an `ack` that
    * advances the cursor to that head.
    *
    * Delivery contract — process THEN ack:
    *  - a crash between processing and ack re-delivers the SAME window
    *    on the next poll (at-least-once delivery; pair it with an
    *    idempotent effect — e.g. a txn-tagged [[append]] keyed by
    *    `toVersion` — for exactly-once end to end);
    *  - ack is idempotent and atomic (the same publish-claim protocol
    *    as the commit log: a versioned `.ack` marker lands whole or
    *    not at all; a duplicate ack of the same head is a no-op);
    *  - an empty window (`fromVersion == toVersion`) returns an empty
    *    frame and an ack that writes nothing.
    *
    * ONE CONSUMER GROUP PER cursorDir: the cursor is the group. Two
    * pollers sharing a cursorDir both read the same `from`, both
    * process the window, and both ack — duplicate PROCESSING (the acks
    * themselves stay idempotent), safe only when the downstream effect
    * is idempotent, exactly like two members of one Kafka group
    * rebalancing onto the same partition. Independent consumers each
    * get their own cursorDir; there is no in-group partitioning to
    * share. A cursor that is AHEAD of the table's head (the table was
    * wiped and re-created under a surviving cursorDir) fails loudly
    * with the cause and recovery named, never the bare
    * from <= to precondition.
    *
    * Cursor markers are one tiny file per acked head, O(polls with
    * progress) — [[vacuumCursor]] drops all but the newest (the cursor
    * itself); even unvacuumed they are commit-log sized by
    * construction.
    */
  def pollChanges(spark: SparkSession, path: String,
                  cursorDir: String): ChangePoll = {
    val hfs = fs(spark, cursorDir)
    val d = new org.apache.hadoop.fs.Path(cursorDir)
    val from =
      if (!hfs.exists(d)) 0L
      else hfs.listStatus(d).toSeq.map(_.getPath.getName)
        .filter(_.matches("""\d{20}\.ack"""))
        .map(_.stripSuffix(".ack").toLong)
        .sorted.lastOption.getOrElse(0L)
    val to = latestVersion(spark, path)
    require(to > 0, s"pollChanges on $path: the table has no commits yet")
    // a cursor AHEAD of the head means the table was wiped and rebuilt
    // (version renumbering) while the cursor dir survived — surfacing
    // changesRows' from <= to precondition would misname the cause and
    // offer no way out; name it and the recovery explicitly
    if (from > to)
      throw new IllegalStateException(
        s"pollChanges on $path: cursor $cursorDir is at version $from " +
          s"but the table's head is $to — the table was re-created " +
          "(version renumbering) under a surviving cursor. Point the " +
          "consumer at a fresh cursorDir (or delete the stale .ack " +
          "markers) after re-processing the rebuilt table from scratch.")
    val changes = changesRows(spark, path, from, to)
    val ack: () => Unit = () =>
      if (to > from) {
        hfs.mkdirs(d)
        try writeNew(hfs,
          new org.apache.hadoop.fs.Path(f"$cursorDir/$to%020d.ack"),
          s"""{"from":$from,"to":$to,"ts":${System.currentTimeMillis()}}""")
        catch {
          // a racing or redelivered ack of the same head already
          // advanced the cursor — idempotent by design
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
          case _: java.nio.file.FileAlreadyExistsException        => ()
        }
      }
    ChangePoll(changes, from, to, ack)
  }

  /** [[pollChanges]] for a NAMED CONSUMER GROUP: each group keeps its
    * own cursor under `cursorDir/<group>/`, so independent consumers of
    * one feed share a single configured location without a
    * directory-per-consumer convention — two groups never read each
    * other's acks, and each advances (and [[vacuumCursor]]s) alone.
    * The Kafka consumer-group shape over the commit-log feed. Group
    * names must be path-inert (`[A-Za-z0-9._-]+`); the bare overload
    * is the single-consumer special case.
    */
  def pollChanges(spark: SparkSession, path: String, cursorDir: String,
                  group: String): ChangePoll = {
    require(group.matches("[A-Za-z0-9._-]+"),
      s"consumer group names must be path-inert ([A-Za-z0-9._-]+): '$group'")
    pollChanges(spark, path, s"$cursorDir/$group")
  }

  /** Per-group [[vacuumCursor]]: sweeps ONLY `group`'s markers. */
  def vacuumCursor(spark: SparkSession, cursorDir: String,
                   group: String): Int = {
    require(group.matches("[A-Za-z0-9._-]+"),
      s"consumer group names must be path-inert ([A-Za-z0-9._-]+): '$group'")
    vacuumCursor(spark, s"$cursorDir/$group")
  }

  /** Drop every superseded `.ack` marker under `cursorDir`, keeping
    * only the NEWEST (the cursor itself — [[pollChanges]] reads the
    * max, so older markers are dead weight: one file per consumed head
    * accretes forever on a busy feed). Safe concurrently with a poller:
    * the newest marker is never touched, and a marker landing DURING
    * the sweep is newer still.
    */
  def vacuumCursor(spark: SparkSession, cursorDir: String): Int = {
    val hfs = fs(spark, cursorDir)
    val d = new org.apache.hadoop.fs.Path(cursorDir)
    if (!hfs.exists(d)) return 0
    val acks = hfs.listStatus(d).toSeq.map(_.getPath.getName)
      .filter(_.matches("""\d{20}\.ack""")).sorted
    acks.dropRight(1).map { n =>
      hfs.delete(new org.apache.hadoop.fs.Path(s"$cursorDir/$n"), false)
    }.count(identity)
  }

  /** Transactionally add rows; concurrent appends all land (commuting
    * retries), each as its own version. Schema-enforced against the
    * current head. `txn` makes the append idempotent (see [[commit]]).
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
             txn: Option[String] = None): Long = {
    requireSchemaMatch(spark, path, df)
    // redelivery fast path: a txn that already landed skips even the
    // staging write (commit re-checks inside its retry loop regardless)
    txn.flatMap(txnLanded(spark, path, _)) match {
      case Some(prior) => prior
      case None => commit(spark, path, "append",
        stage(spark, path, df, asDataOf = headLogical(spark, path)), txn)
    }
  }

  /** Append an increment IN THE TABLE'S DECLARED LAYOUT: the rows are
    * laid out and indexed the way the head's clustering epoch declares —
    * range-sorted with footer ranges (or truncated string bounds) on
    * the stats column, z-ordered with per-file rectangles on the
    * recorded dimensions, blooms at the head's bit width — and the
    * commit carries the per-file metadata, so DATA SKIPPING keeps
    * working over streaming/batch ingest instead of silently degrading
    * with every plain [[append]] (stat-less appended files are always
    * read by every pruned query until a compaction re-indexes them).
    * On an unindexed table this IS a plain append. Same `txn`
    * idempotence as [[append]].
    *
    * CLAIM-AT-HEAD+1, not the blind retry loop: the metadata FLAVOR is
    * derived from the observed head's epoch, and a racing overwrite
    * can change that epoch (new cluster column, new bloom width) —
    * re-landing stale-flavor per-file stats under the new epoch would
    * attach the OLD column's ranges to files the reader prunes with
    * the NEW column's semantics, a silent wrong-pruning hazard plain
    * appends (which carry no stats) cannot have. A lost race re-derives
    * the layout against the new head.
    */
  def appendClustered(spark: SparkSession, path: String, df: DataFrame,
                      txn: Option[String] = None, numFiles: Int = 1): Long = {
    import org.apache.spark.sql.functions.col
    txn.foreach(t => require(t.matches("[A-Za-z0-9._:-]+"),
      s"txn id must be JSON-inert ([A-Za-z0-9._:-]+): '$t'"))
    requireSchemaMatch(spark, path, df, "append")
    txn.flatMap(txnLanded(spark, path, _)) match {
      case Some(prior) => return prior
      case None        => ()
    }
    val hfs = fs(spark, path)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      txn.flatMap(txnLanded(spark, path, _)) match {
        case Some(prior) => return prior // redelivery: a no-op
        case None =>
          val head = latestVersion(spark, path)
          if (head == 0)
            throw new IllegalStateException(
              s"appendClustered needs an existing table at $path " +
                "(create with overwrite/overwriteClustered first)")
          val st = foldState(hfs, path, head)
          val target = math.max(1, numFiles)
          // the log's recorded stats columns are PHYSICAL names; the
          // incoming df speaks logical — lay out by the logical twins,
          // stage (renames to physical), extract footer stats by the
          // physical names the staged footers carry
          val lg = logicalSchemaOf(st)
          val toLogical = TxMapping.toLogicalName(lg)
          val (files, stats, mstats, sstats) = (st.statsCol, st.statsCols) match {
            case (_, zc) if zc.size >= 2 =>
              val staged = stage(spark, path,
                zorderLaid(df, zc.map(toLogical), target,
                  if (st.zbits > 0) st.zbits else 16), asDataOf = lg)
              (staged, Map.empty[String, (Long, Long)],
                multiColStats(spark, path, staged, zc),
                Map.empty[String, (String, String)])
            case (Some(sc), _) =>
              val lsc = toLogical(sc)
              val staged = stage(spark, path, df
                .repartitionByRange(target, col(lsc))
                .sortWithinPartitions(lsc), asDataOf = lg)
              if (df.schema(lsc).dataType ==
                  org.apache.spark.sql.types.StringType)
                (staged, Map.empty[String, (Long, Long)],
                  Map.empty[String, Seq[(Long, Long)]],
                  footerStrStats(spark, path, staged, sc))
              else
                (staged, footerStats(spark, path, staged, sc),
                  Map.empty[String, Seq[(Long, Long)]],
                  Map.empty[String, (String, String)])
            case _ =>
              (stage(spark, path, df, asDataOf = lg),
                Map.empty[String, (Long, Long)],
                Map.empty[String, Seq[(Long, Long)]],
                Map.empty[String, (String, String)])
          }
          // blooms at the HEAD's recorded width (appends never change
          // the epoch's bloomBits — mixed widths would mis-derive
          // every other file's probe positions)
          val blooms = st.bloomCol match {
            case Some(bc) if st.bloomBits > 0 =>
              bloomStats(spark, path, files, bc,
                fixedBits = Some(st.bloomBits))._2
            case _ => Map.empty[String, String]
          }
          commitAt(spark, path, head + 1, "append", files, txn,
              stats = stats, mstats = mstats, blooms = blooms,
              sstats = sstats) match {
            case Some(v) => return v
            case None    => attempt += 1 // epoch may have changed: re-derive
          }
      }
    }
    throw new IllegalStateException(
      s"could not commit to $path after $MaxCommitRetries lost version " +
        "races (every attempt found its claimed version already taken)")
  }

  /** An exactly-once `foreachBatch` sink: each micro-batch appends
    * under txn id `appId:batchId`, so checkpoint redelivery of a batch
    * re-presents the same txn and lands nothing twice — the idempotent
    * sink half of Structured Streaming's exactly-once contract, with
    * the TxTable log as the transaction marker instead of a
    * partition-overwrite convention.
    *
    * {{{
    * stream.writeStream.foreachBatch(TxTable.streamAppend(spark, path, "ingest"))
    *   .option("checkpointLocation", ck).start()
    * }}}
    */
  def streamAppend(spark: SparkSession, path: String, appId: String)
      : (DataFrame, Long) => Unit =
    (batch, batchId) => { append(spark, path, batch,
      txn = Some(s"$appId:$batchId")); () }

  /** The current snapshot. */
  def read(spark: SparkSession, path: String): DataFrame =
    readVersion(spark, path, latestVersion(spark, path))

  /** Time travel: the table exactly as of `version`. */
  def readVersion(spark: SparkSession, path: String,
                  version: Long): DataFrame = {
    val hfs = fs(spark, path)
    require(logVersions(hfs, path)._1.exists(_ <= version),
      s"no commits at or below version $version in $path")
    val st = foldState(hfs, path, version)
    require(st.files.nonEmpty, s"version $version of $path holds no files")
    readStateFiles(spark, path, st, st.files)
  }

  /** Rewrite the current snapshot into `numFiles` files as an
    * overwrite commit — content-identical (the spec pins it), fewer
    * tasks for every downstream reader. Old versions stay readable.
    *
    * CONFLICT-SAFE, unlike a bare overwrite-of-read: the rewrite is
    * committed at exactly headVersion+1 via a single claim attempt —
    * if ANY commit interleaved between the read and the claim (a
    * racing append whose rows the rewrite does not contain), the
    * claim loses and the whole read-coalesce-stage cycle re-runs on
    * the new head. A blind overwrite would silently drop the racer's
    * rows from the head while its append() reported success.
    */
  def compact(spark: SparkSession, path: String, numFiles: Int = 1): Long =
    rewriteHead(spark, path, "compact", Some(numFiles))(identity)

  /** One `listStatus` per staging directory (the [[liveFileStatuses]]
    * costing): live-file sizes in O(commits) metadata RPCs, never one
    * round-trip per file. Files the store lost report size 0 — the
    * caller treats them conservatively.
    */
  private def fileSizes(hfs: org.apache.hadoop.fs.FileSystem, path: String,
                        files: Seq[String]): Map[String, Long] =
    files.groupBy(f => f.lastIndexOf('/') match {
      case -1 => ""
      case i  => f.substring(0, i)
    }).flatMap { case (dir, fs) =>
      val want = fs.map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
      val root = if (dir.isEmpty) path else s"$path/$dir"
      hfs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
        .filter(st => want.contains(st.getPath.getName))
        .map(st => (if (dir.isEmpty) st.getPath.getName
                    else s"$dir/${st.getPath.getName}") -> st.getLen)
    }

  /** SMALL-FILE compaction — the bin-packing half of `OPTIMIZE` (the
    * Delta OPTIMIZE shape, distinct from [[optimize]]'s full
    * re-layout): rewrite ONLY the live files smaller than
    * `minFileBytes`, packed into ceil(smallBytes / targetBytes)
    * outputs, and carry every already-right-sized file into the commit
    * by reference with its recorded metadata. Routine maintenance of a
    * table that accreted streaming micro-batch appends rewrites the
    * small TAIL, never the table — at 100 TB that is the difference
    * between a nightly job and an impossibility. Clustering-preserving
    * like every head rewrite here: on an indexed head the packed
    * subset is re-sorted by the recorded stats column and lands fresh
    * stats/blooms (at the head's bloom width); carried files keep
    * theirs. Content-identical by construction, so the change feed
    * serves it as zero rows ([[changesRows]]). A head with fewer than
    * two small files is already packed — returns the current head
    * WITHOUT committing (an idempotent no-op, not a new version).
    */
  def compactSmall(spark: SparkSession, path: String,
                   minFileBytes: Long = -1L,
                   targetBytes: Long = -1L): Long = {
    // -1 (the default) resolves from the TABLE's persisted properties
    // — graft.compactSmall.minFileBytes / .targetBytes — falling back
    // to 32 MB / 128 MB, so maintenance thresholds travel with the
    // table; an explicit argument always wins
    val hfs = fs(spark, path)
    val head = latestVersion(spark, path)
    val props0 =
      if (head == 0) Map.empty[String, String]
      else foldState(hfs, path, head).props
    val minBytes =
      if (minFileBytes >= 0) minFileBytes
      else props0.get(CompactMinFileBytesProp).map(_.toLong)
        .getOrElse(32L << 20)
    val tgtBytes =
      if (targetBytes >= 0) targetBytes
      else props0.get(CompactTargetBytesProp).map(_.toLong)
        .getOrElse(128L << 20)
    require(minBytes > 0 && tgtBytes > 0,
      "compactSmall needs positive minFileBytes / targetBytes")
    if (head == 0)
      throw new IllegalStateException(
        s"cannot compactSmall $path: the table has no commits yet " +
          "(create it with overwrite first)")
    def smallOf(st: State): Seq[String] = {
      val sz = fileSizes(hfs, path, st.files)
      val small = st.files.filter(f => sz.getOrElse(f, 0L) < minBytes)
      // DV-bearing files join the pack: rewriting them MATERIALIZES
      // their position deletes (the read is DV-applied) and the
      // rewrite restages only the del rows of carried files — so a
      // compactSmall pass is also the merge-on-read purge step, after
      // which a fully-purged table plans native columnar again
      val dvd =
        if (st.dels.isEmpty) Nil
        else {
          val live = st.files.toSet
          delRows(spark, path, st).select("f").distinct()
            .collect().map(_.getString(0)).filter(live.contains).toSeq
        }
      (small ++ dvd).distinct
    }
    // pre-check on the observed head: nothing (or one file) to pack is
    // the steady state of a well-maintained table and must cost zero
    // writes. Advisory only — the conflict-safe loop re-derives.
    val st0 = foldState(hfs, path, head)
    val c0 = smallOf(st0)
    if (c0.size < 2 && !(c0.nonEmpty && st0.dels.nonEmpty)) return head
    rewriteHead(spark, path, "compactSmall",
      candidatesOf = Some(smallOf),
      targetOf = Some { (st, cand) =>
        val sz = fileSizes(hfs, path, cand)
        math.ceil(math.max(1L, cand.map(sz.getOrElse(_, 0L)).sum)
          .toDouble / tgtBytes).toInt
      })(identity)
  }

  /** Re-layout the LIVE HEAD in place — the `OPTIMIZE … ZORDER BY`
    * shape: one column = range-cluster with typed data-skipping stats
    * (integral/date/timestamp long ranges, or truncated string
    * bounds), two to four LONG columns = z-order with per-file
    * rectangles, plus an optional bloom secondary index — committed as
    * ONE conflict-safe overwrite: content identical, history intact,
    * and a commit racing the rewrite restarts it on the new head
    * (like [[compact]]/[[merge]]) so no racer's rows are dropped.
    * Changing a 100 TB table's clustering without interrupting
    * readers is exactly what the immutable-file + commit-log design
    * buys; time travel to pre-optimize versions still reads the old
    * layout.
    */
  def optimize(spark: SparkSession, path: String, clusterBy: Seq[String],
               numFiles: Int = 8, bloomCol: Option[String] = None,
               bits: Int = 0): Long = {
    import org.apache.spark.sql.functions.col
    require(clusterBy.nonEmpty && clusterBy.size <= 4,
      s"optimize clusters by 1 (range) to 4 (z-order) columns, got " +
        s"${clusterBy.size}")
    val hfs = fs(spark, path)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val head = latestVersion(spark, path)
      if (head == 0)
        throw new IllegalStateException(
          s"cannot optimize $path: the table has no commits yet " +
            "(create it with overwrite first)")
      val snapshot = readVersion(spark, path, head)
      val isStr = clusterBy.size == 1 &&
        snapshot.schema(clusterBy.head).dataType ==
          org.apache.spark.sql.types.StringType
      if (clusterBy.size == 1)
        require(isStr || statEncodable(snapshot.schema(clusterBy.head).dataType),
          s"cluster column '${clusterBy.head}' must be an integral, " +
            s"date, timestamp or string type, got " +
            s"${snapshot.schema(clusterBy.head).dataType}")
      bloomCol.foreach(c =>
        require(snapshot.schema(c).dataType ==
            org.apache.spark.sql.types.LongType,
          s"bloom column '$c' must be LongType, got " +
            s"${snapshot.schema(c).dataType}"))
      val (files, stats, sstats, mstats, statsCol, statsCols, zb) =
        if (clusterBy.size == 1) {
          val sc = clusterBy.head
          val staged = stage(spark, path, snapshot
            .repartitionByRange(math.max(1, numFiles), col(sc))
            .sortWithinPartitions(sc))
          if (isStr)
            (staged, Map.empty[String, (Long, Long)],
              footerStrStats(spark, path, staged, sc),
              Map.empty[String, Seq[(Long, Long)]], Some(sc), Nil, 0)
          else
            (staged, footerStats(spark, path, staged, sc),
              Map.empty[String, (String, String)],
              Map.empty[String, Seq[(Long, Long)]], Some(sc), Nil, 0)
        } else {
          val zbits = if (bits == 0) math.min(16, 62 / clusterBy.size) else bits
          clusterBy.foreach(c => require(
            statEncodable(snapshot.schema(c).dataType),
            s"z-order dimension '$c' must be an integral, date or " +
              s"timestamp type, got ${snapshot.schema(c).dataType}"))
          val staged = stage(spark, path,
            zorderLaid(snapshot, clusterBy, math.max(1, numFiles), zbits))
          (staged, Map.empty[String, (Long, Long)],
            Map.empty[String, (String, String)],
            multiColStats(spark, path, staged, clusterBy),
            None, clusterBy, zbits)
        }
      val (bbits, blooms) = bloomCol match {
        case Some(bc) => bloomStats(spark, path, files, bc)
        case None     => (0, Map.empty[String, String])
      }
      commitAt(spark, path, head + 1, "overwrite", files, None,
          stats, statsCol, mstats, statsCols,
          bloomCol, bbits, blooms, zb,
          op = Some("optimize"), sstats = sstats) match {
        case Some(v) => return v
        case None    => attempt += 1 // a commit interleaved: restage on top
      }
    }
    throw new IllegalStateException(
      s"could not optimize $path after $MaxCommitRetries lost races")
  }

  /** How many distinct update-key values a merge will collect to probe
    * the head's per-file BLOOMS with. Above the cap the bloom
    * constraint is skipped (range/string bounds still apply) — the
    * candidate set only widens, never narrows wrongly. The cap is not
    * only a driver-memory bound: bloom ANY-probes SATURATE — at ~1%
    * per-key false-positive rate a 65k-key set hits essentially every
    * file, so a bigger probe would cost more and prune nothing. Large
    * update sets get their pruning from [[touchedFiles]] instead.
    */
  private[graft] val MergeBloomProbeCap = 65536

  /** EXACT matched-file derivation — the Delta findTouchedFiles shape:
    * one key-columns-only semi-join scan of the metadata `candidates`
    * against the updates' distinct keys names precisely the files
    * holding at least one matched key. No false positives (unlike a
    * bloom ANY-probe, which saturates on large key sets), no driver
    * key collect (only file NAMES come back, bounded by the candidate
    * count), and parquet column pruning keeps the scan at key-column
    * bytes — the refinement is worth one narrow read pass whenever it
    * spares rewriting a file's full width. Exactness lets every
    * unmatched file carry by reference even when it sits inside the
    * updates' min/max box (a sparse 2-key upsert spanning the table's
    * key range rewrites 2 files, not all of them), and it is what
    * bounds an over-[[MergeBloomProbeCap]] merge: the bloom constraint
    * is skipped but the scan still pins the rewrite set to matched
    * files.
    */
  private def touchedFiles(spark: SparkSession, path: String, st: State,
                           candidates: Seq[String], updates: DataFrame,
                           keyCols: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    if (candidates.isEmpty) candidates
    else {
      val hit = readStateFiles(spark, path, st, candidates)
        .select(input_file_name().as("__graft_file") +: keyCols.map(col): _*)
        .join(updates.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_semi")
        .select("__graft_file").distinct()
        .collect().map(_.getString(0)).toSet
      // O(1) membership per candidate, not an O(|candidates|·|hits|)
      // pairwise endsWith scan (a 100k-candidate merge would otherwise
      // burn minutes of single-threaded driver CPU here, per claim
      // attempt): strip each hit URI to the tails a relative name can
      // be — `dir/file` (stage()'s layout) and bare `file`.
      val tails = hit.flatMap { h =>
        val i = h.lastIndexOf('/')
        val j = if (i <= 0) -1 else h.lastIndexOf('/', i - 1)
        Seq(h.substring(i + 1)) ++
          (if (j >= 0) Seq(h.substring(j + 1)) else Nil)
      }
      candidates.filter(tails.contains)
    }
  }

  /** FILE-LEVEL candidate derivation for [[merge]]: the head files that
    * can hold a matched key, narrowed in two stages. METADATA first —
    * the updates' per-key-column bounds (one narrow aggregation over
    * the SMALL side) intersected with the log's recorded ranges /
    * truncated string bounds, plus a bloom probe of the actual key
    * values when the key is bloom-indexed and the distinct count fits
    * [[MergeBloomProbeCap]] — then an EXACT [[touchedFiles]] semi-join
    * scan of the survivors, so the rewrite set is precisely the files
    * holding a matched key (the metadata stage bounds what that scan
    * reads). Exact the same way the read path is: a file outside the
    * result PROVABLY holds no row whose key equals any update key, so
    * carrying it forward by reference preserves merge semantics
    * bit-for-bit. Columns without recorded metadata contribute no
    * metadata constraint — an unindexed table goes straight to the
    * exact scan over every file.
    */
  private def mergeCandidates(spark: SparkSession, path: String,
                              updates: DataFrame, keyCols: Seq[String])
      : State => Seq[String] = { st =>
    import org.apache.spark.sql.functions.{col, max, min}
    val metaKeys = keyCols.filter(k =>
      st.statsCol.contains(k) || st.statsCols.contains(k))
    val bloomKeys = keyCols.filter(k => st.bloomCol.contains(k) &&
      updates.schema(k).dataType == org.apache.spark.sql.types.LongType)
    if (metaKeys.isEmpty && bloomKeys.isEmpty)
      touchedFiles(spark, path, st, st.files, updates, keyCols)
    else {
      var ranges = Map.empty[String, (Long, Long)]
      var strRanges = Map.empty[String, (Option[String], Option[String])]
      var empty = false
      if (metaKeys.nonEmpty) {
        val aggs = metaKeys.flatMap(k =>
          Seq(min(col(k)).as(s"__lo_$k"), max(col(k)).as(s"__hi_$k")))
        val row = updates.agg(aggs.head, aggs.tail: _*).collect()(0)
        metaKeys.zipWithIndex.foreach { case (k, i) =>
          (Option(row.get(2 * i)), Option(row.get(2 * i + 1))) match {
            case (Some(lo: String), Some(hi: String)) =>
              strRanges += k -> (Some(lo), Some(hi))
            case (Some(lo), Some(hi)) =>
              (statLong(lo), statLong(hi)) match {
                case (Some(a), Some(b)) => ranges += k -> (a, b)
                case _                  => () // unencodable type: no constraint
              }
            case _ => empty = true // null min/max = zero update rows
          }
        }
      }
      val points: Map[String, Seq[Long]] = bloomKeys.flatMap { k =>
        val vs = updates.select(col(k)).filter(col(k).isNotNull).distinct()
          .limit(MergeBloomProbeCap + 1).collect().map(_.getLong(0)).toSeq
        if (vs.isEmpty) { empty = true; None }
        else if (vs.size > MergeBloomProbeCap) None // too many: skip the probe
        else Some(k -> vs)
      }.toMap
      if (empty) Seq.empty // no update rows: nothing can match
      else touchedFiles(spark, path, st,
        prunedFiles(st, ranges, points, strRanges), updates, keyCols)
    }
  }

  /** Upsert by key: rows of `updates` replace head rows sharing their
    * `keyCols` values; unmatched update rows insert. One overwrite
    * commit, conflict-safe like [[compact]] — a racing append between
    * the read and the claim restarts the merge on the new head, so
    * its rows are never silently dropped.
    *
    * FILE-LEVEL: only the files that actually HOLD a matched key
    * ([[mergeCandidates]] — metadata narrowing on indexed tables, then
    * an exact key-column semi-join scan, the Delta findTouchedFiles
    * shape) are read and rewritten; every other live file is carried
    * into the new commit by reference with its recorded metadata — a
    * small upsert into a 100 TB table rewrites the matched files, not
    * the table (the Delta/Iceberg copy-on-write shape), indexed or
    * not.
    *
    * With `cdf = true` the commit also stages ROW-LEVEL change data
    * (the Delta Change Data Feed shape): every head row whose key
    * matches an update lands as `update_preimage`, the update row that
    * replaces it as `update_postimage`, and every unmatched update row
    * as `insert` — read back by [[changesRows]]. If the head carries
    * duplicate rows under one key (possible via plain appends), EACH
    * such row emits a preimage while the single update row emits one
    * postimage: the feed records exactly what was removed and what was
    * added, so replaying it onto the `fromVersion` snapshot always
    * reproduces `toVersion`.
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keyCols: Seq[String], cdf: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{col, count, lit}
    require(keyCols.nonEmpty, "merge needs at least one key column")
    requireSchemaMatch(spark, path, updates, "merge")
    // Key hygiene up front, one aggregation job: duplicate keys inside
    // `updates` would land BOTH rows (the anti-join removes the head
    // row once, the union inserts every duplicate) and a NULL key can
    // never match in the join, so each re-merge would ACCUMULATE a new
    // NULL-key row instead of replacing — both silently corrupt the
    // upsert's key contract, so both reject loudly (the Delta MERGE
    // multiple-source-matches rule).
    val violations = updates
      .groupBy(keyCols.map(col): _*).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1 ||
        keyCols.map(col(_).isNull).reduce(_ || _))
      .limit(1).count()
    require(violations == 0L,
      s"merge updates must carry unique, non-null values for " +
        s"key columns ${keyCols.mkString(",")}")
    val changeRows: Option[DataFrame => DataFrame] =
      if (!cdf) None
      else Some { head =>
        import org.apache.spark.sql.functions.{lit, when}
        val keys = keyCols.map(col)
        val pre = head.join(updates.select(keys: _*).distinct(),
            keyCols, "left_semi")
          .withColumn(ChangeCol, lit("update_preimage"))
        // postimage vs insert is ONE left join against the head's key
        // set with a matched flag, not a semi + anti pair — one head
        // key scan instead of two per attempt
        // collision-improbable working name (the __-prefix convention of
        // Layout's __z*): a user table can legitimately carry a column
        // named "_m", which would make this join ambiguous on the cdf
        // path only — _change/_version are the documented reserved names,
        // _m was not
        val tagged = updates.join(
            head.select(keys: _*).distinct()
              .withColumn("__graft_matched", lit(1)),
            keyCols, "left")
          .withColumn(ChangeCol,
            when(col("__graft_matched").isNotNull, lit("update_postimage"))
              .otherwise(lit("insert")))
          .drop("__graft_matched")
        pre.unionByName(tagged)
      }
    rewriteHead(spark, path, "merge", cdfOf = changeRows,
        candidatesOf = Some(mergeCandidates(spark, path, updates, keyCols)))(head =>
      head.join(updates.select(keyCols.map(col): _*).distinct(),
          keyCols, "left_anti")
        .unionByName(updates))
  }

  /** FILE-LEVEL candidate derivation for [[deleteWhere]]: resolve the
    * predicate against the snapshot schema, translate it through
    * Spark's OWN Expression → source-Filter translation (the exact
    * mapping the pushed read path uses, so the two can never disagree),
    * weaken it into the log's constraint shapes, and keep only files
    * whose recorded metadata can satisfy it. A dropped file provably
    * holds no predicate-TRUE row — its rows are all kept by the delete,
    * so carrying it by reference is exact. Untranslatable or
    * unrecognized predicates contribute no constraint (full rewrite) —
    * conservative, never wrong.
    */
  private def deleteCandidates(spark: SparkSession, path: String,
                               cond: org.apache.spark.sql.Column)
      : State => Seq[String] = { st =>
    if (st.statsCol.isEmpty && st.statsCols.isEmpty && st.bloomCol.isEmpty)
      st.files
    else {
      val probe = spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](),
        stateSchema(spark, path, st))
      val resolved = probe.filter(cond).queryExecution.analyzed.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f.condition
      }
      // fold constant subtrees (the analyzer wraps literals in casts —
      // `id BETWEEN 100 AND 120` arrives as `id >= CAST(100 AS BIGINT)`
      // — and translateFilter only matches bare Literals); the
      // optimizer can't be used instead: over the empty probe relation
      // it would propagate emptiness and erase the Filter node itself.
      // current_timestamp()/now()/current_date() are foldable but
      // UNEVALUABLE here (only the optimizer's ComputeCurrentTime
      // substitutes them, and this plan is analyzed-only) — eval would
      // throw, so such subtrees stay unfolded and the predicate falls
      // through translateFilter to the no-constraint (full-rewrite)
      // path: conservative, never a crash
      val folded = resolved.map(_.transformUp {
        case e: org.apache.spark.sql.catalyst.expressions.Expression
            if e.foldable && !e.isInstanceOf[
              org.apache.spark.sql.catalyst.expressions.Literal] &&
              !e.exists(_.isInstanceOf[
                org.apache.spark.sql.catalyst.expressions.Unevaluable]) =>
          scala.util.Try(org.apache.spark.sql.catalyst.expressions.Literal
            .create(e.eval(org.apache.spark.sql.catalyst.InternalRow.empty),
              e.dataType)).getOrElse(e)
      })
      folded.flatMap(org.apache.spark.sql.execution.datasources
          .GraftFilterTranslation.translate) match {
        case Some(f) =>
          val (ranges, points, strRanges) =
            TxTableRelation.constraints(Array(f))
          prunedFiles(st, ranges, points, strRanges)
        case None => st.files // untranslatable: every file is a candidate
      }
    }
  }

  /** Transactional delete: head rows where `cond` is TRUE are removed
    * in one overwrite commit (conflict-safe like [[compact]]). SQL
    * DELETE semantics: a row where the predicate evaluates to NULL is
    * KEPT — a bare `filter(!cond)` would silently delete it, since
    * !NULL is NULL and filters drop non-TRUE rows.
    *
    * FILE-LEVEL on indexed tables: only files whose recorded metadata
    * can satisfy `cond` ([[deleteCandidates]]) are read and rewritten;
    * the rest carry forward by reference — a bounded delete from a
    * clustered 100 TB table touches the matching files, not the table.
    * A delete whose candidate set is provably EMPTY (no file can hold
    * a predicate-true row) is a no-op: the current head version is
    * returned without committing a new one.
    *
    * With `cdf = true` every removed row is staged as a `delete`
    * change row, read back by [[changesRows]].
    */
  def deleteWhere(spark: SparkSession, path: String,
                  cond: org.apache.spark.sql.Column,
                  cdf: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    val changeRows: Option[DataFrame => DataFrame] =
      if (!cdf) None
      else Some(_.filter(coalesce(cond, lit(false)))
        .withColumn(ChangeCol, lit("delete")))
    rewriteHead(spark, path, "delete", cdfOf = changeRows,
      candidatesOf = Some(deleteCandidates(spark, path, cond)),
      noopOnEmptyCandidates = true)(_.filter(
      !coalesce(cond, lit(false))))
  }

  /** Conditional overwrite in ONE commit — the Delta `replaceWhere` /
    * SQL `INSERT INTO t REPLACE WHERE cond SELECT ...` shape, and the
    * canonical 100 TB daily-reload: replace exactly the slice `cond`
    * matches with `df`, atomically. Head rows where `cond` is TRUE are
    * removed and `df`'s rows land in the same overwrite commit —
    * readers see either the old slice or the new one, never neither
    * (the delete-then-append composition has a window with the slice
    * missing, and two commits to retry through).
    *
    * FILE-LEVEL on indexed tables ([[deleteCandidates]]): only files
    * that can hold a `cond`-true row are read and rewritten, the rest
    * carry by reference — replacing one day of a date-clustered table
    * touches that day's files, not the table. SQL NULL semantics:
    * rows where `cond` is NULL are KEPT (they are not part of the
    * replaced slice). No containment check is enforced between `df`
    * and `cond` — like Delta's `replaceWhere` with the constraint
    * check off, the caller owns slice discipline.
    */
  def replaceWhere(spark: SparkSession, path: String,
                   cond: org.apache.spark.sql.Column,
                   df: DataFrame): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    requireSchemaMatch(spark, path, df, "replaceWhere")
    rewriteHead(spark, path, "replaceWhere",
      candidatesOf = Some(deleteCandidates(spark, path, cond)))(head =>
      head.filter(!coalesce(cond, lit(false))).unionByName(df))
  }

  // ---- position deletes (merge-on-read deletion vectors) ----
  //
  // The Iceberg-v2 position-delete shape over this commit log: a `dv`
  // commit records WHICH rows died as parquet files of
  // (f = relative data file, pos = row position in that file) — write
  // cost O(changed rows) — instead of rewriting whole matched files
  // (copy-on-write, O(matched files)). Reads apply the deletes; a
  // compact/compactSmall/optimize rewrite purges them (its snapshot
  // read is DV-applied and an overwrite resets `dels`). Positions are
  // parquet row indexes over a FULL-file read — the same value
  // `_metadata.row_index` reports (parquet-mr row indexes survive
  // row-group and page skipping, which is what makes the position
  // contract stable under pushdown).

  private[graft] val DelSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("f",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.LongType, nullable = false)))

  /** `_metadata.file_path` is absolute; del rows key on the relative
    * `data-x/part-....parquet` name — the staging dir's UUID makes the
    * two-segment tail globally unique per table (a basename alone
    * could collide across stagings, and a collision here would delete
    * rows from the WRONG file).
    */
  private val RelNameRegex = "[^/]+/[^/]+$"

  /** (f, pos) rows of a state's position-delete files. */
  private[graft] def delRows(spark: SparkSession, path: String,
                             st: State): DataFrame =
    readLogFiles(spark, path, st.dels, DelSchema)

  /** Cap on the position-delete bytes [[delPositions]] may collect to
    * the driver. Merge-on-read deletes are for SMALL mutations and
    * maintenance purges them; nothing else in the engine collects an
    * unbounded row set to the driver, so neither may the DV read path.
    * The check costs O(del files) metadata calls — no del row is read.
    */
  private[graft] val DvMaxDriverBytesConf = "spark.graft.dv.maxDriverBytes"

  // ---- table-property knobs (round 20): the persisted property map
  // CONFIGURES behavior, so the knobs travel with the table instead of
  // the session — Delta's property model. Precedence: explicit
  // argument > session conf (operational override) > table property >
  // built-in default. Values validated at SET time (TxCatalog).
  private[graft] val DvDmlProp = "graft.dv_dml"
  private[graft] val DvMaxDriverBytesProp = "graft.dv.maxDriverBytes"
  private[graft] val CompactMinFileBytesProp = "graft.compactSmall.minFileBytes"
  private[graft] val CompactTargetBytesProp = "graft.compactSmall.targetBytes"
  private[graft] val KeepVersionsProp = "graft.retention.keepVersions"

  private def dvDriverCap(spark: SparkSession,
                          props: Map[String, String]): Long =
    spark.conf.getOption(DvMaxDriverBytesConf).map(_.toLong)
      .orElse(props.get(DvMaxDriverBytesProp).map(_.toLong))
      .getOrElse(64L * 1024 * 1024)

  /** Process-level cache of built position maps, keyed by (path, del
    * file list) — CONTENT-ADDRESSED: staging names are never reused
    * and del files are immutable, so an equal key always names equal
    * content. Without it every SQL query on a DV-bearing table
    * rebuilds the map (loadTable returns a fresh instance per
    * statement). Bounded:
    * small (deletes are small by contract and guarded by
    * [[DvMaxDriverBytesConf]]) and capped at 16 entries.
    */
  private val delPosCache =
    new java.util.LinkedHashMap[(String, Seq[String]),
        Map[String, Array[Long]]](32, 0.75f, true) {
      // bounded by RETAINED POSITIONS, not entry count: 16 entries at
      // the 64 MB per-table cap could otherwise pin ~1 GB of driver
      // heap. 8M longs ≈ 64 MB total across all cached tables.
      private val MaxTotalPositions = 8L * 1024 * 1024
      private def totalPositions: Long = {
        import scala.jdk.CollectionConverters._
        values().iterator().asScala
          .map(_.valuesIterator.map(_.length.toLong).sum).sum
      }
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[String]),
            Map[String, Array[Long]]]): Boolean =
        size() > 16 || (size() > 1 && totalPositions > MaxTotalPositions)
    }

  /** Driver-side per-file sorted positions — the V2 scan's
    * per-partition filter sets ([[graft.api.TxFileScan]]). Bounded BY
    * GUARD, not by hope: position deletes are for SMALL mutations (the
    * point of merge-on-read) and compactSmall/optimize purge them; a
    * backlog past [[DvMaxDriverBytesConf]] (default 64 MB) fails
    * loudly naming the purge verb instead of silently exhausting the
    * driver. The API snapshot read is unaffected — it applies dels as
    * a distributed anti-join ([[minusDels]]) and never collects them.
    * A cache miss reads every del file of the version on one driver
    * thread: at the cap that is about 15M positions, about 3 s on a
    * 4-core host.
    */
  private[graft] def delPositions(spark: SparkSession, path: String,
                                  st: State): Map[String, Array[Long]] =
    if (st.dels.isEmpty) Map.empty
    else {
      // the cap check runs BEFORE the cache lookup and before any del
      // byte is read: the guard's contract ("over-cap DV reads fail
      // loudly") must not depend on whether an earlier statement
      // happened to populate the cache
      val lens = delFileLens(spark, path, st.dels)
      val bytes = st.dels.map(lens.getOrElse(_, 0L)).sum
      val cap = dvDriverCap(spark, st.props)
      if (bytes > cap) throw new IllegalStateException(
        s"table at $path carries $bytes bytes of position-delete files " +
          s"(cap: $cap): the merge-on-read backlog must be purged before " +
          "driver-side DV application. Run TxTable.compactSmall/optimize " +
          "(SQL: CALL <catalog>.system.compact_small) to materialize the " +
          s"deletes, or raise $DvMaxDriverBytesConf (session) / " +
          s"$DvMaxDriverBytesProp (table property)")
      delPosCache.synchronized {
        val hit = delPosCache.get((path, st.dels))
        if (hit != null) return hit
      }
      val missing = st.dels.filterNot(lens.contains)
      require(missing.isEmpty,
        s"txtable at $path: the commit log references position-delete " +
          s"files the store no longer holds: ${missing.take(5).mkString(", ")}")
      // a miss reads every del file of the version on the driver, one
      // after another, through the row reader the scans use: no Spark
      // job, and the cap above bounds the bytes read
      val read = GraftV2Bridge.parquetRowReader(spark, DelSchema, DelSchema)
      val out = scala.collection.mutable.HashMap[String,
        scala.collection.mutable.ArrayBuilder.ofLong]()
      st.dels.foreach { d =>
        read(GraftV2Bridge.partitionedFile(s"$path/$d", lens(d))).foreach { r =>
          out.getOrElseUpdate(r.getUTF8String(0).toString,
            new scala.collection.mutable.ArrayBuilder.ofLong) += r.getLong(1)
        }
      }
      val built = out.map { case (f, b) =>
        val ps = b.result(); java.util.Arrays.sort(ps); f -> ps
      }.toMap
      delPosCache.synchronized { delPosCache.put((path, st.dels), built); () }
      built
    }

  /** Merge-on-read DEBT observability (round 20): per DV-bearing live
    * file, its total rows (parquet footer metadata), recorded delete
    * positions, and the deleted fraction — the backlog the driver-cap
    * guard protects against, visible BEFORE it trips. Distributed
    * count of the del rows (never collected), O(DV'd files) footer
    * metadata reads, zero data scanned; a purged table returns empty.
    * Surfaced as `CALL <catalog>.system.dv_stats`.
    */
  def dvStats(spark: SparkSession, path: String)
      : Seq[(String, Long, Long, Double)] = {
    val head = latestVersion(spark, path)
    require(head >= 1, s"dvStats needs an existing table at $path")
    val st = foldState(fs(spark, path), path, head)
    if (st.dels.isEmpty) return Nil
    val live = st.files.toSet
    val perFile = delRows(spark, path, st).groupBy("f").count()
      .collect().map(r => r.getString(0) -> r.getLong(1))
      .filter { case (f, _) => live.contains(f) }.sortBy(_._1)
    val conf = spark.sparkContext.hadoopConfiguration
    perFile.toSeq.map { case (f, delRows) =>
      val rows = scala.util.Try {
        import scala.jdk.CollectionConverters._
        org.apache.parquet.hadoop.ParquetFileReader.readFooter(
          conf, new org.apache.hadoop.fs.Path(s"$path/$f"),
          org.apache.parquet.format.converter.ParquetMetadataConverter
            .NO_FILTER).getBlocks.asScala.map(_.getRowCount).sum
      }.getOrElse(0L)
      (f, rows, delRows,
        if (rows > 0) delRows.toDouble / rows else 0.0)
    }
  }

  /** On-disk sizes of position-delete files, resolved BULK: one
    * `listStatus` per staging directory instead of one `getFileStatus`
    * per file (del files group into `data-*` dirs like data files —
    * the [[liveFileStatuses]] discipline). A churned table with 1000+
    * tiny del files costs O(dirs) metadata RPCs here, not O(files).
    * Files whose dir vanished (vacuumed history) are simply absent.
    */
  private[graft] def delFileLens(spark: SparkSession, path: String,
                                 dels: Seq[String]): Map[String, Long] = {
    val hfs = fs(spark, path)
    dels.filter(_.contains('/')).map(f => f.substring(0, f.lastIndexOf('/')))
      .distinct.flatMap { dir =>
        scala.util.Try(hfs.listStatus(
          new org.apache.hadoop.fs.Path(s"$path/$dir")).toSeq)
          .getOrElse(Nil)
          .map(st => s"$dir/${st.getPath.getName}" -> st.getLen)
      }.toMap
  }

  /** Read `files` of `st` with DV provenance columns attached
    * (`__graft_dv_f`, `__graft_dv_pos`), NOT yet DV-filtered. */
  private def readWithPos(spark: SparkSession, path: String, st: State,
                          files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, regexp_extract}
    val raw = readRawStateFiles(spark, path, st, files)
    // withColumn REPLACES an existing column of the same name — a data
    // column shadowed here would corrupt DV matching and vanish from
    // update images / CDF. The catalog's CREATE rejects the __graft_
    // prefix; V1-route tables can still carry one, so fail loudly at
    // the point of corruption instead of silently eating the column.
    Seq("__graft_dv_f", "__graft_dv_pos").foreach(c =>
      require(!raw.columns.contains(c),
        s"table at $path has a data column '$c', which collides with " +
          "the reserved merge-on-read provenance column of that name; " +
          "rename the column before using position-delete verbs"))
    raw
      .withColumn("__graft_dv_f",
        regexp_extract(col("_metadata.file_path"), RelNameRegex, 0))
      .withColumn("__graft_dv_pos", col("_metadata.row_index"))
  }

  /** Apply a state's position deletes to a frame carrying the DV
    * provenance columns (anti-join; AQE broadcasts the small side). */
  private def minusDels(spark: SparkSession, path: String, st: State,
                        withPos: DataFrame): DataFrame =
    if (st.dels.isEmpty) withPos
    else {
      import org.apache.spark.sql.functions.col
      withPos.join(
        delRows(spark, path, st).select(
          col("f").as("__graft_dv_f"), col("pos").as("__graft_dv_pos")),
        Seq("__graft_dv_f", "__graft_dv_pos"), "left_anti")
    }

  /** The position-delete rows that survive a head rewrite: del rows
    * referencing CARRIED files restage into fresh del files (so the
    * state's `dels` list never accretes stale entries — a fully-
    * rewritten head purges to Nil and returns to the native columnar
    * plan); del rows referencing rewritten files drop (their deletions
    * were materialized by the DV-applied snapshot read).
    */
  private def survivingDels(spark: SparkSession, path: String, st: State,
                            untouched: Seq[String]): Seq[String] =
    if (st.dels.isEmpty || untouched.isEmpty) Nil
    else {
      import org.apache.spark.sql.functions.broadcast
      val carried = spark.createDataset(untouched)(
        org.apache.spark.sql.Encoders.STRING).toDF("f")
      val sur = delRows(spark, path, st)
        .join(broadcast(carried), Seq("f"), "left_semi")
      if (sur.isEmpty) Nil else stage(spark, path, sur)
    }

  /** Position-delete DELETE (merge-on-read): ONE `dv` commit recording
    * the matched rows' (file, position) — no data file is rewritten,
    * so the write is O(changed rows) where [[deleteWhere]] is
    * O(matched files). Reads at or above the commit apply the
    * deletes; time travel below it reads the rows; compact/
    * compactSmall/optimize purge accumulated deletes. SQL NULL
    * semantics match [[deleteWhere]] (NULL-cond rows are kept). With
    * `cdf = true` the commit also stages the deleted rows as `delete`
    * change data; without it [[changesRows]] reconstructs the same
    * rows precisely from the del files. Conflict-safe: positions are
    * derived from the observed head and claimed at EXACTLY head+1 —
    * an interleaved commit (whose rewrite may have MOVED rows to new
    * files) loses the claim and the derivation re-runs.
    */
  def deleteWhereDv(spark: SparkSession, path: String,
                    cond: org.apache.spark.sql.Column,
                    cdf: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val hfs = fs(spark, path)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val head = latestVersion(spark, path)
      require(head > 0, s"cannot deleteWhereDv $path: no commits yet")
      val st = foldState(hfs, path, head)
      val cand = deleteCandidates(spark, path, cond)(st)
      if (cand.isEmpty) return head
      // matching runs over LIVE rows only: a position already deleted
      // by an earlier dv commit must not re-enter a del file. The raw
      // frame carries physical names — rename to logical (provenance
      // columns pass through) before the caller's condition applies
      val live = logicalSchemaOf(st).foldLeft(minusDels(spark, path, st,
        readWithPos(spark, path, st, cand)))(TxMapping.toLogicalDf)
      val matched = live.filter(coalesce(cond, lit(false)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (matched.isEmpty) return head
        val delFiles = stage(spark, path, matched.select(
          col("__graft_dv_f").as("f"), col("__graft_dv_pos").as("pos")))
        val cdfFiles =
          if (!cdf) Nil
          else stage(spark, path, matched
            .drop("__graft_dv_f", "__graft_dv_pos")
            .withColumn(ChangeCol, lit("delete")))
        commitAt(spark, path, head + 1, "dv", Nil, None,
            op = Some("delete"), cdf = cdfFiles, dels = delFiles) match {
          case Some(v) => return v
          case None =>
            deleteStagings(spark, path, delFiles ++ cdfFiles)
            attempt += 1 // a commit interleaved: re-derive positions
        }
      } finally { matched.unpersist(); () }
    }
    throw new IllegalStateException(
      s"could not deleteWhereDv $path after $MaxCommitRetries lost races")
  }

  /** Position-delete UPDATE (merge-on-read): matched rows' positions
    * die and their updated images land as new files — ONE `dv` commit,
    * O(changed rows) bytes where the copy-on-write UPDATE rewrites
    * every matched file. `set` maps existing column names to new
    * value expressions (cast to the column's current type — the
    * schema cannot drift through an update). With `cdf = true` the
    * commit stages `update_preimage`/`update_postimage` change rows.
    */
  def updateWhereDv(spark: SparkSession, path: String,
                    cond: org.apache.spark.sql.Column,
                    set: Map[String, org.apache.spark.sql.Column],
                    cdf: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val hfs = fs(spark, path)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val head = latestVersion(spark, path)
      require(head > 0, s"cannot updateWhereDv $path: no commits yet")
      val st = foldState(hfs, path, head)
      val schema = stateSchema(spark, path, st)
      set.keys.foreach(k => require(schema.fieldNames.contains(k),
        s"updateWhereDv on $path: no column '$k' in ${schema.fieldNames.mkString(", ")}"))
      val cand = deleteCandidates(spark, path, cond)(st)
      if (cand.isEmpty) return head
      val live = logicalSchemaOf(st).foldLeft(minusDels(spark, path, st,
        readWithPos(spark, path, st, cand)))(TxMapping.toLogicalDf)
      val matched = live.filter(coalesce(cond, lit(false)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        if (matched.isEmpty) return head
        val pre = matched.drop("__graft_dv_f", "__graft_dv_pos")
        val images = set.foldLeft(pre) { case (df, (k, v)) =>
          df.withColumn(k, v.cast(schema(k).dataType))
        }
        val delFiles = stage(spark, path, matched.select(
          col("__graft_dv_f").as("f"), col("__graft_dv_pos").as("pos")))
        // images are TABLE DATA: they land under physical names
        val imgFiles = stage(spark, path, images,
          asDataOf = logicalSchemaOf(st))
        val cdfFiles =
          if (!cdf) Nil
          else stage(spark, path,
            pre.withColumn(ChangeCol, lit("update_preimage"))
              .unionByName(images.withColumn(ChangeCol,
                lit("update_postimage"))))
        // fresh footer stats/blooms for the images at the head's
        // flavor — data skipping must survive merge-on-read updates
        // (the commitDelta policy; no-op on unindexed heads)
        val (fstats, fsstats, fmstats, _, fblooms) =
          freshFileMeta(spark, path, st, imgFiles, anyCarried = true)
        commitAt(spark, path, head + 1, "dv", imgFiles, None,
            stats = fstats, mstats = fmstats, blooms = fblooms,
            sstats = fsstats,
            op = Some("update"), cdf = cdfFiles, dels = delFiles) match {
          case Some(v) => return v
          case None =>
            deleteStagings(spark, path, delFiles ++ imgFiles ++ cdfFiles)
            attempt += 1
        }
      } finally { matched.unpersist(); () }
    }
    throw new IllegalStateException(
      s"could not updateWhereDv $path after $MaxCommitRetries lost races")
  }

  /** The shared conflict-safe head rewrite every whole-table mutation
    * (compact / merge / deleteWhere) commits through: transform the
    * snapshot at the observed head, claim EXACTLY head+1 — if any
    * commit interleaved, the claim loses and the whole
    * read-transform-stage cycle re-runs on the new head. A blind
    * overwrite would silently drop a racing append's rows while its
    * append() reported success.
    *
    * CLUSTERING-PRESERVING: if the head carries a stats column, the
    * rewritten data is re-clustered by it and fresh per-file footer
    * stats land in the new commit — a routine compact/merge/delete on
    * a clustered table must not silently erase its data-skipping
    * metadata and degrade every later [[readRange]] to a full scan.
    * `numFilesHint` bounds the rewritten file count (compact's knob);
    * without it a clustered rewrite keeps the head's file count.
    */
  private def rewriteHead(spark: SparkSession, path: String, what: String,
                          numFilesHint: Option[Int] = None,
                          cdfOf: Option[DataFrame => DataFrame] = None,
                          candidatesOf: Option[State => Seq[String]] = None,
                          targetOf: Option[(State, Seq[String]) => Int] = None,
                          noopOnEmptyCandidates: Boolean = false)(
      transform: DataFrame => DataFrame): Long = {
    import org.apache.spark.sql.functions.col
    val hfs = fs(spark, path)
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val head = latestVersion(spark, path)
      if (head == 0)
        throw new IllegalStateException(
          s"cannot $what $path: the table has no commits yet " +
            "(create it with overwrite first)")
      val st = foldState(hfs, path, head)
      // FILE-LEVEL rewrite: `candidatesOf` names the head files that
      // CAN hold affected rows (derived per attempt from the same log
      // metadata the read path prunes with — [[prunedFiles]] is proof,
      // not heuristic: a file outside the set provably holds no
      // matched key / predicate-true row). Only candidates are read
      // and restaged; every other live file is carried forward BY
      // REFERENCE with its recorded stats/blooms/bounds — the restore
      // pattern. That bounds a 1k-row upsert into a clustered 100 TB
      // table to the matched files' bytes instead of the full head,
      // the copy-on-write scale story Delta/Iceberg ship. Without
      // metadata (or without `candidatesOf`) every file is a
      // candidate — the pre-existing full rewrite, byte-identical.
      val cand = candidatesOf.fold(st.files)(f => f(st))
      // PROVEN-EMPTY candidate set on a content-preserving rewrite
      // (deleteWhere: zero files can hold a predicate-true row → the
      // head is already the result): return it WITHOUT committing.
      // Staging would land a zero-row parquet file (stage's
      // repartition(1) fallback) in a content-identical version —
      // repeated no-match deletes would accrete empty live files every
      // later read scans. compactSmall's <2-small-files no-op is the
      // same shape. merge must NOT take this path (empty candidates
      // still insert the unmatched updates), so it is opt-in per verb.
      if (noopOnEmptyCandidates && cand.isEmpty) return head
      val candSet = cand.toSet
      val untouched = st.files.filterNot(candSet)
      // ONE snapshot frame per attempt, shared by the rewrite transform
      // and the change-data builder: the two views must describe the
      // same observed head (a lost race restages both), and sharing the
      // frame also shares its scan plan instead of paying two
      // independent head reads per attempt. The frame holds only the
      // CANDIDATE files — sound for both consumers because carried
      // files hold no affected rows (no anti-join match, no cdf image).
      val snapshot =
        if (cand.isEmpty) spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          stateSchema(spark, path, st))
        else readStateFiles(spark, path, st, cand)
      val transformed = transform(snapshot)
      val cdfFiles = cdfOf.fold(Seq.empty[String])(rows =>
        stage(spark, path, rows(snapshot)))
      val target = targetOf.map(f => math.max(1, f(st, cand)))
        .orElse(numFilesHint).getOrElse(math.max(1, cand.size))
      // carried files keep physical column names, so the restaged ones
      // must too (stage renames; identity when unmapped); the recorded
      // layout columns are physical — translate for the logical frame
      val lg = logicalSchemaOf(st)
      val toLogicalCol = TxMapping.toLogicalName(lg)
      val staged = (st.statsCol, st.statsCols) match {
        case (_, zc) if zc.size >= 2 => // z-ordered head: re-layout
          // replay the RECORDED interleave bits (pre-zbits logs carry 0
          // → the 2-D writer default of 16), so rewrites preserve the
          // table's z-order granularity instead of resetting it
          stage(spark, path, zorderLaid(transformed, zc.map(toLogicalCol),
            target, if (st.zbits > 0) st.zbits else 16), asDataOf = lg)
        case (Some(sc), _) => // clustered head: re-lay by range
          val lsc = toLogicalCol(sc)
          stage(spark, path, transformed
            .repartitionByRange(target, col(lsc)).sortWithinPartitions(lsc),
            asDataOf = lg)
        case _ =>
          // an EXPLICIT file-count ask (compact's hint, compactSmall's
          // bin-pack target) coalesces; a merge/delete rewrite keeps
          // the transform's natural partitioning
          val want = if (targetOf.isDefined) Some(target) else numFilesHint
          stage(spark, path, want.fold(transformed)(transformed.coalesce),
            asDataOf = lg)
      }
      // the fresh skipping metadata (stats flavor by the cluster
      // column's type, N-D rectangles, blooms at the epoch's width) is
      // the SHARED policy — one implementation with commitReplace
      val (fstats, fsstats, fmstats, bbits, fblooms) =
        freshFileMeta(spark, path, st, staged, untouched.nonEmpty)
      // carried files keep their recorded metadata by NAME; staged
      // files bring fresh entries — the union is the new head's index
      val untouchedSet = untouched.toSet
      def carry[V](m: Map[String, V]): Map[String, V] =
        m.filter { case (k, _) => untouchedSet.contains(k) }
      commitAt(spark, path, head + 1, "overwrite", untouched ++ staged, None,
          carry(st.stats) ++ fstats, st.statsCol,
          carry(st.mstats) ++ fmstats, st.statsCols,
          st.bloomCol, if (untouched.nonEmpty) math.max(bbits, st.bloomBits) else bbits,
          carry(st.blooms) ++ fblooms, st.zbits,
          op = Some(what), cdf = cdfFiles,
          schemaB64 = st.schemaB64,
          // position deletes of CARRIED files restage forward; deletes
          // of rewritten files were materialized by the DV-applied
          // snapshot read — a full rewrite therefore purges to Nil
          sstats = carry(st.sstats) ++ fsstats,
          dels = survivingDels(spark, path, st, untouched)) match {
        case Some(v) => return v
        case None    => attempt += 1 // a commit interleaved: restage on top
      }
    }
    throw new IllegalStateException(
      s"could not $what $path after $MaxCommitRetries attempts")
  }

  /** Fresh data-skipping metadata for `files` at the head's recorded
    * flavor — long ranges / truncated string bounds on the stats
    * column, N-D rectangles on recorded z-dimensions, blooms at the
    * epoch's bit width when any file is carried. The ONE
    * implementation of index preservation every head rewrite commits
    * through ([[rewriteHead]] and the DSv2 [[commitReplace]]): two
    * drifting copies of this policy would silently erode skipping
    * metadata on whichever path missed a fix.
    */
  private def freshFileMeta(spark: SparkSession, path: String, st: State,
                            files: Seq[String], anyCarried: Boolean)
      : (Map[String, (Long, Long)], Map[String, (String, String)],
         Map[String, Seq[(Long, Long)]], Int, Map[String, String]) = {
    val (fstats, fsstats) = st.statsCol match {
      case Some(sc) =>
        // sc is the PHYSICAL name — resolve its type against the
        // physical twin (a renamed cluster column is absent from the
        // logical schema under that name)
        if (TxMapping.toPhysicalSchema(stateSchema(spark, path, st))(sc)
            .dataType == org.apache.spark.sql.types.StringType)
          (Map.empty[String, (Long, Long)],
            footerStrStats(spark, path, files, sc))
        else (footerStats(spark, path, files, sc),
          Map.empty[String, (String, String)])
      case None => (Map.empty[String, (Long, Long)],
        Map.empty[String, (String, String)])
    }
    val fmstats =
      if (st.statsCols.size >= 2) multiColStats(spark, path, files, st.statsCols)
      else Map.empty[String, Seq[(Long, Long)]]
    val (bbits, fblooms) = st.bloomCol match {
      case Some(bc) => bloomStats(spark, path, files, bc,
        fixedBits = if (anyCarried && st.bloomBits > 0)
          Some(st.bloomBits) else None)
      case None => (0, Map.empty[String, String])
    }
    (fstats, fsstats, fmstats, bbits, fblooms)
  }

  /** The commit half of the DSv2 group-based row-level rewrite (SQL
    * DELETE/UPDATE/MERGE INTO through [[TxCatalog]]): replace exactly
    * `removed` (the files the rewrite SCANNED, whose surviving rows
    * were restaged by executor-side writers as `added`) in one
    * overwrite commit; every other live file carries by reference with
    * its recorded stats/blooms/bounds, and `added` gets FRESH footer
    * stats/blooms at the head's flavor — SQL DML must not erode the
    * data-skipping index any more than the API verbs do.
    *
    * Concurrency is WriteSerializable, the Delta semantics for a write
    * whose data was already computed against `baseVersion` and cannot
    * be recomputed here (the API verbs restart their whole transform
    * on a lost race; a DSv2 write's query already ran): commits that
    * interleaved between `baseVersion` and the claim are tolerated IFF
    * every `removed` file is still live (appends/compactions of OTHER
    * files commute — their files ride in via the fresh head fold); an
    * interleaved commit that removed or replaced any scanned file
    * means the rewrite's inputs are stale, and the claim aborts with a
    * ConcurrentModificationException instead of silently resurrecting
    * overwritten rows.
    *
    * A rewrite that empties the table (row-level DELETE of every row)
    * commits a zero-row schema-carrying staged file — the same
    * truncate-to-empty discipline as [[stage]]: an empty TABLE, never
    * an unreadable one.
    */
  private[graft] def commitReplace(spark: SparkSession, path: String,
                                   baseVersion: Long,
                                   removed: Seq[String],
                                   added: Seq[String],
                                   what: String): Long = {
    val hfs = fs(spark, path)
    val removedSet = removed.toSet
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      replaceRaceInjection()
      val head = latestVersion(spark, path)
      val st = foldState(hfs, path, head)
      requireScanStillValid(spark, path, hfs, st, head, baseVersion,
        removedSet, what)
      val untouched = st.files.filterNot(removedSet)
      val extra =
        if ((untouched ++ added).nonEmpty) Seq.empty[String]
        else stage(spark, path, spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          stateSchema(spark, path, st)), asDataOf = logicalSchemaOf(st))
      val newFiles = added ++ extra
      val (fstats, fsstats, fmstats, bbits, fblooms) =
        freshFileMeta(spark, path, st, newFiles, untouched.nonEmpty)
      val untouchedSet = untouched.toSet
      def carry[V](m: Map[String, V]): Map[String, V] =
        m.filter { case (k, _) => untouchedSet.contains(k) }
      commitAt(spark, path, head + 1, "overwrite", untouched ++ newFiles,
          None,
          carry(st.stats) ++ fstats, st.statsCol,
          carry(st.mstats) ++ fmstats, st.statsCols,
          st.bloomCol,
          if (untouched.nonEmpty) math.max(bbits, st.bloomBits) else bbits,
          carry(st.blooms) ++ fblooms, st.zbits,
          op = Some(what), cdf = Nil,
          schemaB64 = st.schemaB64,
          // carried files keep their position deletes, restaged fresh
          // (rewriteHead's contract); rewritten files' deletes were
          // materialized by the DV-applied row-level scan
          sstats = carry(st.sstats) ++ fsstats,
          dels = survivingDels(spark, path, st, untouched)) match {
        case Some(v) => return v
        case None    => attempt += 1 // re-fold the head, re-check conflicts
      }
    }
    throw new IllegalStateException(
      s"could not commit $what on $path after $MaxCommitRetries lost " +
        "version races")
  }

  /** The shared conflict rules of DSv2 writes whose row output was
    * computed against `baseVersion` and cannot be recomputed at commit
    * time (the API verbs restart their transform on a lost race; a
    * DSv2 write's query already ran): every scanned/referenced file
    * must still be LIVE at `head` (an interleaved commit that removed
    * or replaced one means the inputs are stale), and none may have
    * GAINED position-delete rows since `baseVersion` — a dv commit
    * adds del rows without removing files, so the still-live rule
    * alone would admit it, and committing outputs computed from the
    * pre-dv scan would silently resurrect the rows it deleted (a lost
    * update under WriteSerializable; Delta's conflict checker treats a
    * DV change on a read file as a conflict for the same reason).
    */
  private def requireScanStillValid(spark: SparkSession, path: String,
                                    hfs: org.apache.hadoop.fs.FileSystem,
                                    st: State, head: Long,
                                    baseVersion: Long,
                                    scanned: Set[String],
                                    what: String): Unit = {
    val lost = scanned -- st.files.toSet
    if (lost.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$what on $path conflicts with a concurrent commit: scanned " +
          s"files no longer live at head $head (base $baseVersion): " +
          s"${lost.take(5).mkString(", ")}" +
          (if (lost.size > 5) s" (+${lost.size - 5} more)" else ""))
    if (head != baseVersion && scanned.nonEmpty) {
      val baseSt = foldState(hfs, path, baseVersion)
      if (st.dels != baseSt.dels) {
        import org.apache.spark.sql.functions.col
        def delsOnScanned(s: State): DataFrame =
          if (s.dels.isEmpty)
            spark.createDataFrame(
              new java.util.ArrayList[org.apache.spark.sql.Row](), DelSchema)
          else delRows(spark, path, s)
            .filter(col("f").isInCollection(scanned))
        if (!delsOnScanned(st).except(delsOnScanned(baseSt)).isEmpty)
          throw new java.util.ConcurrentModificationException(
            s"$what on $path conflicts with a concurrent position-delete " +
              s"commit: scanned files gained deletion-vector rows between " +
              s"base $baseVersion and head $head — committing would " +
              "resurrect rows the interleaved commit deleted")
      }
    }
  }

  /** The commit half of the DSv2 DELTA row-level write (SQL
    * UPDATE / MERGE INTO / unparseable DELETE under `dv_dml`): ONE
    * merge-on-read `dv` commit recording executor-staged position
    * deletes (`delFiles`) and row images (`imageFiles`) — O(changed
    * rows) bytes, no data file removed or rewritten. `referenced` are
    * the relative names of the files the staged del rows point into;
    * the claim aborts (ConcurrentModificationException) if any is no
    * longer live at head or gained del rows since `baseVersion` —
    * positions into a removed file are meaningless and doubled
    * deletes/updates of a concurrently-deleted row would corrupt the
    * feed ([[requireScanStillValid]], the rule [[commitReplace]]
    * shares). Lost version races re-fold and re-check: positions stay
    * valid as long as the referenced files do.
    */
  private[graft] def commitDelta(spark: SparkSession, path: String,
                                 baseVersion: Long,
                                 delFiles: Seq[String],
                                 imageFiles: Seq[String],
                                 referenced: Seq[String],
                                 what: String): Long = {
    val hfs = fs(spark, path)
    val refSet = referenced.toSet
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      deltaRaceInjection()
      val head = latestVersion(spark, path)
      val st = foldState(hfs, path, head)
      requireScanStillValid(spark, path, hfs, st, head, baseVersion,
        refSet, what)
      // image files get FRESH footer stats/blooms at the head's flavor
      // (the same index-preservation policy every rewrite commits
      // through): without them a clustered table's point reads scan
      // every accumulated image file until maintenance purges — SQL
      // DML must not erode data skipping on the merge-on-read route
      // either. No-op on unindexed heads and on pure-DELETE commits
      // (no image files to stat).
      val (fstats, fsstats, fmstats, _, fblooms) =
        if (imageFiles.isEmpty)
          (Map.empty[String, (Long, Long)],
            Map.empty[String, (String, String)],
            Map.empty[String, Seq[(Long, Long)]], 0,
            Map.empty[String, String])
        else freshFileMeta(spark, path, st, imageFiles, anyCarried = true)
      commitAt(spark, path, head + 1, "dv", imageFiles, None,
          stats = fstats, mstats = fmstats, blooms = fblooms,
          sstats = fsstats,
          op = Some(what), cdf = Nil, dels = delFiles) match {
        case Some(v) => return v
        case None    => attempt += 1 // re-fold the head, re-check conflicts
      }
    }
    throw new IllegalStateException(
      s"could not commit $what on $path after $MaxCommitRetries lost " +
        "version races")
  }

  /** Commit files already staged by executor-side writers (the DSv2
    * streaming sink path — there is no DataFrame to hand the batch
    * verbs): one append/overwrite commit with the same schema-on-write
    * enforcement ([[requireSchemaMatch]]'s name→type shape, checked
    * from the declared write schema) and the same txn idempotence —
    * a redelivered epoch re-presents its txn id and lands nothing.
    * An overwrite to zero files stages the empty schema-carrying file
    * (truncate-to-empty yields an empty TABLE).
    */
  private[graft] def commitStagedAppend(spark: SparkSession, path: String,
                                        files: Seq[String],
                                        txn: Option[String],
                                        overwrite: Boolean,
                                        schema: org.apache.spark.sql.types.StructType)
      : Long = {
    val v = latestVersion(spark, path)
    if (v >= 1) {
      def shape(s: org.apache.spark.sql.types.StructType) =
        s.fields.map(f => f.name -> f.dataType).toMap
      val table = shape(stateSchema(spark, path,
        foldState(fs(spark, path), path, v)))
      require(shape(schema) == table,
        s"streaming write schema mismatch for $path: table has $table, " +
          s"write has ${shape(schema)}")
    }
    val fls =
      if (files.nonEmpty || !overwrite) files
      else stage(spark, path, spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema))
    commit(spark, path, if (overwrite) "overwrite" else "append", fls, txn)
  }

  /** Atomic table CREATION: stage `df` and claim EXACTLY version 1 —
    * the claim (create-if-absent on the commit file) IS the existence
    * test, so two racing `CREATE TABLE` statements serialize on the
    * log like every other writer: one wins, the loser's staging is
    * deleted and `false` reported (→ TableAlreadyExistsException). A
    * check-then-act `isTable` probe followed by `overwrite` would let
    * BOTH creators succeed (the loser's overwrite retries onto v2) and
    * two racing CTAS would silently UNION their datasets.
    */
  private[graft] def createExactlyV1(spark: SparkSession, path: String,
                                     df: DataFrame,
                                     props: Map[String, String] = Map.empty)
      : Boolean =
    createExactlyV1Files(spark, path, stage(spark, path, df), props)

  /** The pre-staged-files half of [[createExactlyV1]] — the DSv2
    * staged-CTAS commit point, where the query's output was already
    * staged through the write builder before the claim.
    */
  private[graft] def createExactlyV1Files(spark: SparkSession, path: String,
                                          files: Seq[String],
                                          props: Map[String, String] = Map.empty)
      : Boolean =
    commitAt(spark, path, 1L, "overwrite", files, None,
        props = if (props.isEmpty) None else Some(props)) match {
      case Some(_) => true
      case None =>
        // lost the creation race: remove the orphan staging now (it is
        // invisible anyway, but why wait for vacuum)
        deleteStagings(spark, path, files)
        false
    }

  /** Stage `df`'s rows under `path` WITHOUT committing — the DSv2
    * staged-table write seam ([[graft.api.TxStagedTable]]): files land
    * invisible (no commit references them) until commitStagedChanges
    * publishes them in one claim, or abort deletes them.
    */
  private[graft] def stageFiles(spark: SparkSession, path: String,
                                df: DataFrame): Seq[String] =
    stage(spark, path, df)

  /** Publish pre-staged files as ONE history-preserving overwrite
    * commit — `REPLACE TABLE` on an existing table: the old versions
    * stay time-travelable (replace is a version, not an erasure) and
    * the staged files define the new schema wholesale (the overwrite
    * evolution-reset contract).
    */
  private[graft] def commitReplaceTable(spark: SparkSession, path: String,
                                        files: Seq[String],
                                        props: Map[String, String] = Map.empty)
      : Long =
    // REPLACE defines the new table wholesale: its props field is
    // ALWAYS present (Some — possibly empty), so the old table's
    // properties never leak across the replace
    commit(spark, path, "overwrite", files, op = Some("replaceTable"),
      props = Some(props))

  /** SQL `ALTER TABLE SET/UNSET TBLPROPERTIES` (+ COMMENT ON): one
    * data-less commit carrying the FULL replacement property map —
    * metadata only, no bytes move; time travel reads each version's
    * properties as committed. Takes the CHANGE (a merge function over
    * the head's folded map), not a pre-merged map, and re-derives
    * inside the claim-retry loop — the evolveAddColumn discipline:
    * retrying a lost version race with a map merged against a STALE
    * head would silently overwrite the racing commit's properties, a
    * lost update under the WriteSerializable claim.
    */
  private[graft] def setProperties(spark: SparkSession, path: String,
                                   merge: Map[String, String] =>
                                     Map[String, String]): Long = {
    var attempt = 0
    while (attempt < MaxCommitRetries) {
      val head = latestVersion(spark, path)
      require(head >= 1,
        s"setProperties needs an existing table at $path")
      val next = merge(properties(spark, path, head))
      commitAt(spark, path, head + 1, "append", Nil, None,
          op = Some("setProperties"), props = Some(next)) match {
        case Some(v) => return v
        case None    => attempt += 1 // re-fold on the new head
      }
    }
    throw new IllegalStateException(
      s"could not setProperties on $path after $MaxCommitRetries " +
        "lost version races")
  }

  /** The folded property map at `version` (latest full map wins). */
  def properties(spark: SparkSession, path: String,
                 version: Long): Map[String, String] =
    foldState(fs(spark, path), path, version).props

  /** Delete the `data-*` staging dirs holding `files` (abort path). */
  private[graft] def deleteStagings(spark: SparkSession, path: String,
                                    files: Seq[String]): Unit =
    files.map(f => f.substring(0, f.lastIndexOf('/'))).distinct
      .foreach { dir =>
        fs(spark, path).delete(
          new org.apache.hadoop.fs.Path(s"$path/$dir"), true)
        ()
      }

  /** The last version committed at or before `tsMs` — `TIMESTAMP AS
    * OF` resolution in O(log n) commit-record reads via binary search
    * over the log's contiguous versions (a [[history]] scan would
    * parse EVERY surviving record — thousands of serial metadata RPCs
    * per statement on a streaming-ingest table). Assumes commit
    * timestamps are non-decreasing in version order (true for
    * single-host wall clocks; the same monotonicity Delta/Iceberg
    * timestamp travel documents).
    */
  private[graft] def versionAtOrBefore(spark: SparkSession, path: String,
                                       tsMs: Long): Option[Long] = {
    val hfs = fs(spark, path)
    val vs = logVersions(hfs, path)._1
    def tsOf(v: Long): Long = parse(readSmall(hfs,
      new org.apache.hadoop.fs.Path(commitPath(path, v)))).ts
    var lo = 0
    var hi = vs.length - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) / 2
      if (tsOf(vs(mid)) <= tsMs) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    if (ans < 0) None else Some(vs(ans))
  }

  /** The commit records in `(fromExclusive, toInclusive]` — the V2
    * streaming source's window decomposition (appended files stream as
    * partitions; maintenance commits skip; rewrites gate on
    * skipChangeCommits).
    */
  private[graft] def commitsIn(spark: SparkSession, path: String,
                               fromExclusive: Long,
                               toInclusive: Long): Seq[Commit] = {
    val hfs = fs(spark, path)
    val allVs = logVersions(hfs, path)._1
    // Same retention guard as [[changesRows]]: if [[expireHistory]]
    // truncated records inside this window, the expired versions'
    // appends would otherwise SILENTLY vanish from the V2 stream (the
    // filter below just sees fewer versions and plans zero partitions
    // for them) — a lagging consumer must re-bootstrap, loudly.
    allVs.headOption.filter(e => e > 1 && fromExclusive < e - 1).foreach(e =>
      throw new IllegalStateException(
        s"commitsIn on $path: history below version $e was expired " +
          s"(expireHistory), but the window starts after $fromExclusive — " +
          "this stream lags the retention horizon; re-bootstrap it " +
          "from a snapshot read and a fresh checkpoint"))
    allVs
      .filter(v => v > fromExclusive && v <= toInclusive)
      .map(v => parse(readSmall(hfs,
        new org.apache.hadoop.fs.Path(commitPath(path, v)))))
  }

  /** Test seam: runs at the top of every [[commitReplace]] claim
    * attempt, so a spec can interleave a commit into exactly the
    * scan-to-commit window of a DSv2 row-level write deterministically.
    * No-op in production.
    */
  @volatile private[graft] var replaceRaceInjection: () => Unit = () => ()

  /** Test seam: runs at the top of every [[commitDelta]] claim attempt
    * (the dv_dml delta write's commit), mirroring
    * [[replaceRaceInjection]]. No-op in production.
    */
  @volatile private[graft] var deltaRaceInjection: () => Unit = () => ()

  /** Stagings younger than this are presumed in-flight, not crashed. */
  val VacuumMinAgeMs: Long = 3600 * 1000L

  /** Delete `data-*` dirs no commit references AND older than
    * `olderThanMs` — crashed or lost-race stagings. The age floor is
    * what makes this safe against a LIVE writer that has staged but
    * not yet committed (its dir is unreferenced too); deleting young
    * stagings would let its commit land referencing deleted files.
    * Never touches log-reachable files: every historical version stays
    * readable. Returns the number of dirs removed.
    */
  /** RETENTION: truncate time travel below the last `keepVersions`
    * commits — the lifecycle half [[vacuum]] alone cannot provide,
    * because data files stay log-reachable (and therefore undeletable)
    * as long as ANY commit references them: a 100 TB table that
    * overwrites daily would otherwise hold every byte it ever wrote,
    * forever. The cutoff C = head − keepVersions + 1 is made
    * SELF-CONTAINED first (a checkpoint at C, folded while the old
    * records still exist, carrying the full live set, per-file
    * metadata, schema AND the cumulative txn-id set — txn idempotence
    * must survive expiry), then every commit/checkpoint record BELOW C
    * is deleted. Reads and time travel at or above C are unaffected
    * (they resolve from the cutoff checkpoint); versions below C stop
    * resolving with the standard "no commits at or below" error; the
    * expired versions' exclusive data files lose their last log
    * reference and become collectable by the next aged [[vacuum]] —
    * expire truncates HISTORY, vacuum deletes BYTES, composition is
    * the Delta log-retention + VACUUM shape.
    *
    * Choose `keepVersions` with consumer-lag headroom: a change-feed
    * cursor further back than C − 1 fails loudly on its next poll
    * (named error) and must re-bootstrap from a snapshot. Concurrent
    * writers are safe (only records below C are touched); a reader
    * time-traveling below C DURING the expiry fails loudly, never
    * reads torn state (records are deleted whole). A reader at or
    * above C whose log listing predates the expiry can find a
    * pre-cutoff record vanished mid-fold — [[foldState]] retries once
    * with a fresh listing and resolves from the cutoff checkpoint
    * (published before any deletion), so such reads succeed. Returns
    * the number of expired commit records; 0 when nothing is old
    * enough.
    */
  def expireHistory(spark: SparkSession, path: String,
                    keepVersions: Int = -1): Int = {
    val hfs = fs(spark, path)
    val (commitVs, ckVs) = logVersions(hfs, path)
    require(commitVs.nonEmpty,
      s"cannot expireHistory $path: the table has no commits yet")
    // -1 (the default) resolves the retention horizon from the TABLE's
    // persisted properties (graft.retention.keepVersions) — no
    // built-in fallback: history expiry is destructive, so it needs
    // either an explicit argument or a deliberate per-table policy
    val keep =
      if (keepVersions >= 0) keepVersions
      else foldState(hfs, path, commitVs.last).props
        .get(KeepVersionsProp).map(_.toInt).getOrElse(
          throw new IllegalArgumentException(
            s"expireHistory on $path: pass keepVersions or set the " +
              s"table property $KeepVersionsProp"))
    require(keep >= 1, s"keepVersions must be >= 1, got $keep")
    val head = commitVs.last
    val cutoff = head - keep + 1
    if (cutoff <= commitVs.head) return 0 // nothing below the cutoff
    // make the cutoff self-contained BEFORE deleting anything below it
    if (!ckVs.contains(cutoff)) {
      val st = foldState(hfs, path, cutoff)
      val ck = render(Commit(cutoff, "checkpoint", st.files,
        System.currentTimeMillis(),
        stats = st.stats, statsCol = st.statsCol,
        mstats = st.mstats, statsCols = st.statsCols,
        bloomCol = st.bloomCol, bloomBits = st.bloomBits,
        blooms = st.blooms, zbits = st.zbits,
        schemaB64 = st.schemaB64, sstats = st.sstats,
        dels = st.dels,
        // the commit that SET the table properties may be below the
        // cutoff — the checkpoint must carry the folded map or the
        // expiry silently erases COMMENT/TBLPROPERTIES
        props = if (st.props.isEmpty) None else Some(st.props)))
      try writeNew(hfs,
        new org.apache.hadoop.fs.Path(checkpointPath(path, cutoff)),
        ck.dropRight(1) +
          s""","txns":[${st.txns.keys.toSeq.sorted
            .map("\"" + _ + "\"").mkString(",")}]}""")
      catch { // a concurrent expire landed the same checkpoint: fine
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => ()
        case _: java.nio.file.FileAlreadyExistsException        => ()
      }
    }
    val expired = commitVs.filter(_ < cutoff)
    expired.foreach(v =>
      hfs.delete(new org.apache.hadoop.fs.Path(commitPath(path, v)), false))
    ckVs.filter(_ < cutoff).foreach(v =>
      hfs.delete(new org.apache.hadoop.fs.Path(checkpointPath(path, v)), false))
    expired.size
  }

  def vacuum(spark: SparkSession, path: String,
             olderThanMs: Long = VacuumMinAgeMs): Int = {
    val hfs = fs(spark, path)
    // checkpoints count as references too: after [[expireHistory]] the
    // cutoff CHECKPOINT is the only record naming files whose adding
    // commits were expired — without this union a vacuum would delete
    // files the live head still reads
    val ckFiles = logVersions(hfs, path)._2.flatMap { cv =>
      val ck = parse(readSmall(hfs,
        new org.apache.hadoop.fs.Path(checkpointPath(path, cv))))
      ck.files ++ ck.dels
    }
    val referenced = (history(spark, path)
      // cdf and position-delete files are log-reachable too
      .flatMap(c => c.files ++ c.cdf ++ c.dels) ++ ckFiles)
      .map(_.takeWhile(_ != '/')).toSet
    val cutoff = System.currentTimeMillis() - olderThanMs
    val orphans = hfs.listStatus(new org.apache.hadoop.fs.Path(path)).toSeq
      .filter(st => st.getPath.getName.startsWith("data-") &&
        !referenced.contains(st.getPath.getName) &&
        st.getModificationTime <= cutoff)
    orphans.foreach(st => hfs.delete(st.getPath, true))
    orphans.size
  }
}
