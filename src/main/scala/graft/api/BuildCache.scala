package graft.api

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.SparkSession
import graft.shelf.{StatCache, Tables}

/** The one cross-process store for deterministic builds: an entry is
  * reused while the fingerprints of its inputs hold — the "constructive
  * trace" store of Build Systems à la Carte (Mokhov, Mitchell and Peyton
  * Jones, ICFP 2018). [[SessionMemo]] is the in-process layer above it.
  *
  *  - '''Key''': (recipe, ver, scope, the caller's parameters, the input
  *    fingerprint). The fingerprint is the [[StatCache.stat]] identity of
  *    every file under each input, sorted by path: device, inode, size,
  *    mtime ns and ctime ns. No user call can set ctime back, so a
  *    same-size rewrite with a restored mtime still changes the key.
  *    Where `stat` has no answer (no `unix:*` attributes, or a non-local
  *    filesystem) the file's size, mtime and a sha256 of its first and
  *    last 64 KiB stand in.
  *  - '''Entry''': an immutable directory `<root>/<recipe>-<scope tag>/<key
  *    hash>`. `build` writes into a staging sibling unique to its
  *    publisher; `_KEY` (the full key plus a manifest of every file and
  *    its size) is written last, and one atomic rename publishes. A
  *    publisher that finds the target taken lost a race to an identical
  *    deterministic build: it discards its staging and serves the
  *    winner's entry. No lock, no swap.
  *  - '''Serve''' only when `_KEY` holds the key and the manifest matches
  *    the files on disk: a partial cleanup is a rebuild, never a short
  *    read. A build that throws leaves nothing behind.
  *  - An '''absent input''' (or none at all) makes the build
  *    unpublishable: it lands in a directory that is never served and is
  *    deleted at `Graft.clear`.
  *  - After a publish, the entries of other keys under the same (recipe,
  *    scope) are deleted, as are stagings whose publisher has exited.
  *    The first publish of a process also deletes, under the whole root,
  *    every entry whose key names a local input that no longer exists:
  *    its fingerprint holds inode and ctime, so no later input can match.
  *
  * Staging names are `<key hash>_<pid>_<nonce>`; every name under the
  * root is a valid SQL identifier fragment, so callers name catalog
  * tables after [[tagOf]] the directory they are handed.
  */
object BuildCache {

  /** The one root for cached builds and transient build directories. */
  private[graft] def root: Path =
    Paths.get(sys.props("java.io.tmpdir"), "graft-cache")

  private val KeyFile = "_KEY"
  private val EdgeBytes = 65536

  /** Serve the entry of (recipe, ver, scope, params, inputs), or build it
    * by handing `build` a fresh, empty directory to write, and publish it.
    * Returns the directory holding the build.
    */
  def apply(spark: SparkSession, recipe: String, ver: Int, inputs: Seq[String],
            scope: String, params: Seq[(String, Any)] = Nil)(
      build: String => Unit): String = {
    val k = key(spark, recipe, ver, inputs, scope, params)
    lookup(k).getOrElse(publish(spark, k)(build))
  }

  /** A key of [[apply]], its inputs fingerprinted when it is made. A
    * caller that builds outside [[apply]] makes the key before it reads
    * the inputs, so what it publishes is keyed to what it read.
    */
  private[graft] final case class Key(recipe: String, scope: String, text: String,
                                      publishable: Boolean) {
    def dir: Path = entryDir(recipe, scope, text)
  }

  private[graft] def key(spark: SparkSession, recipe: String, ver: Int,
                         inputs: Seq[String], scope: String,
                         params: Seq[(String, Any)] = Nil): Key = {
    val (text, publishable) = keyOf(recipe, ver, inputs, scope, params,
      spark.sparkContext.hadoopConfiguration)
    Key(recipe, scope, text, publishable)
  }

  /** The intact entry of `k`, counted served; None is counted built. */
  private[graft] def lookup(k: Key): Option[String] = {
    val hit = intact(k.dir, k.text)
    record(k.recipe, k.scope, served = hit)
    if (hit) Some(k.dir.toString) else None
  }

  /** Build `k` into a fresh directory and publish it: the build step of
    * [[apply]], for a caller whose [[lookup]] missed.
    */
  private[graft] def publish(spark: SparkSession, k: Key)(build: String => Unit): String = {
    val entry = k.dir
    val stage = entry.resolveSibling(
      s"${entry.getFileName}_${ProcessHandle.current().pid()}_${nonce()}")
    Files.createDirectories(stage)
    try {
      build(stage.toString)
      Files.writeString(stage.resolve(KeyFile), sealOf(stage, k.text))
    } catch { case e: Throwable => quietlyDelete(stage); throw e }
    if (!k.publishable)
      SessionMemo.withRelease[String](spark, "buildCache.unpublished",
        stage.toString, d => quietlyDelete(Paths.get(d)))(stage.toString)
    else {
      if (Files.exists(entry) && !intact(entry, k.text)) retire(entry)
      try Files.move(stage, entry, StandardCopyOption.ATOMIC_MOVE)
      catch { case e: java.io.IOException =>
        quietlyDelete(stage)
        if (!intact(entry, k.text)) throw e
      }
      sweep(entry)
      if (orphansSwept.compareAndSet(false, true)) scala.util.Try(sweepOrphans())
      entry.toString
    }
  }

  /** The directory a published build of this key occupies — what
    * [[apply]] returns once the inputs are present. For callers that
    * name an entry before it is built (oracle SQL).
    */
  private[graft] def entryPath(recipe: String, ver: Int, inputs: Seq[String],
                               scope: String,
                               params: Seq[(String, Any)] = Nil): String =
    entryDir(recipe, scope, keyOf(recipe, ver, inputs, scope, params,
      SparkSession.active.sparkContext.hadoopConfiguration)._1).toString

  /** Identifier-safe tag of an entry directory [[apply]] returned. */
  def tagOf(dir: String): String = Paths.get(dir).getFileName.toString

  private def entryDir(recipe: String, scope: String, key: String): Path =
    root.resolve(s"$recipe-${Dedup.tableTag(scope)}").resolve(Dedup.tableTag(key))

  /** (key text, publishable): publishable iff every input is present. */
  private def keyOf(recipe: String, ver: Int, inputs: Seq[String], scope: String,
                    params: Seq[(String, Any)], conf: => Configuration): (String, Boolean) = {
    val listed = inputs.map(i => i -> fingerprint(i, conf))
    val lines = Seq(s"recipe $recipe", s"ver $ver", s"scope $scope") ++
      params.map { case (k, v) => s"param $k $v" } ++
      listed.flatMap { case (i, files) =>
        s"input $i" +: files.getOrElse(Seq("absent")).map("  " + _) }
    (lines.mkString("\n"), inputs.nonEmpty && listed.forall(_._2.isDefined))
  }

  /** One line per file under `input`, sorted by path; None if absent. */
  private def fingerprint(input: String, conf: => Configuration): Option[Seq[String]] = {
    val hp = new org.apache.hadoop.fs.Path(input)
    if (Option(hp.toUri.getScheme).forall(_ == "file")) {
      val p = Paths.get(hp.toUri.getPath)
      if (!Files.exists(p)) None
      else Some(walkFiles(p).map { f =>
        StatCache.stat(f) match {
          case Some(st) => s"$f ${st.dev}:${st.ino}:${st.size}:${st.mtimeNs}:${st.ctimeNs}"
          case None =>
            val fs = org.apache.hadoop.fs.FileSystem.getLocal(conf)
            s"$f ${edgeIdentity(fs, fs.getFileStatus(new org.apache.hadoop.fs.Path(f.toUri)))}"
        }
      })
    } else {
      val fs = hp.getFileSystem(conf)
      if (!fs.exists(hp)) None
      else {
        val it = fs.listFiles(hp, true)
        val b = Seq.newBuilder[(String, String)]
        while (it.hasNext) { val st = it.next(); b += st.getPath.toString -> edgeIdentity(fs, st) }
        Some(b.result().sortBy(_._1).map { case (p, id) => s"$p $id" })
      }
    }
  }

  /** size:mtime-ms:sha256 of the first and last [[EdgeBytes]] bytes. */
  private def edgeIdentity(fs: org.apache.hadoop.fs.FileSystem,
                           st: org.apache.hadoop.fs.FileStatus): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val len = st.getLen
    val tail = math.max(EdgeBytes.toLong, len - EdgeBytes)
    val windows = Seq(0L -> math.min(len, EdgeBytes.toLong), tail -> (len - tail))
    val in = fs.open(st.getPath)
    try windows.filter(_._2 > 0).foreach { case (off, n) =>
      val buf = new Array[Byte](n.toInt)
      in.readFully(off, buf, 0, buf.length); md.update(buf)
    }
    finally in.close()
    s"$len:${st.getModificationTime}:" + md.digest().map("%02x".format(_)).mkString
  }

  private def walkFiles(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector.sortBy(_.toString)
    finally s.close()
  }

  /** The `_KEY` text a complete entry holds: the key, then a manifest of
    * every other file and its size.
    */
  private def sealOf(dir: Path, key: String): String =
    (key +: "-- manifest" +: walkFiles(dir).map(dir.relativize).filter(_.toString != KeyFile)
      .map(r => s"${Files.size(dir.resolve(r))} $r")).mkString("\n")

  private def intact(entry: Path, key: String): Boolean =
    try Files.readString(entry.resolve(KeyFile)) == sealOf(entry, key)
    catch { case _: java.io.IOException | _: java.io.UncheckedIOException => false }

  private def nonce(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(8)

  /** Move a damaged entry aside (one rename, so a racing publisher never
    * sees it half-deleted) and delete it.
    */
  private def retire(entry: Path): Unit = {
    val aside = entry.resolveSibling(
      s"${entry.getFileName}_${ProcessHandle.current().pid()}_${nonce()}")
    if (scala.util.Try(Files.move(entry, aside, StandardCopyOption.ATOMIC_MOVE)).isSuccess)
      quietlyDelete(aside)
  }

  /** Delete every sibling of `entry` except the stagings of live
    * publishers: other-key entries are superseded, and a staging whose
    * publisher exited was abandoned.
    */
  private def sweep(entry: Path): Unit = {
    val s = Files.list(entry.getParent)
    val others = try s.iterator().asScala.filter(_ != entry).toVector finally s.close()
    others.foreach { p =>
      val owner = p.getFileName.toString.split('_').lift(1).flatMap(_.toLongOption)
      if (owner.forall(pid => !ProcessHandle.of(pid).isPresent)) quietlyDelete(p)
    }
  }

  private val orphansSwept = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Delete every published entry under [[root]] whose `_KEY` names a
    * local absolute `input` path that no longer exists, then every (recipe,
    * scope) directory left empty. Returns the entries deleted. Best
    * effort: a directory it cannot list or a `_KEY` it cannot parse is
    * skipped, so the sweep never fails the publish that runs it.
    */
  private[graft] def sweepOrphans(): Int = {
    def children(d: Path): Vector[Path] =
      try { val s = Files.list(d); try s.iterator().asScala.toVector finally s.close() }
      catch { case NonFatal(_) => Vector.empty }
    def orphaned(entry: Path): Boolean =
      try Files.readAllLines(entry.resolve(KeyFile)).asScala.iterator
        .takeWhile(_ != "-- manifest").filter(_.startsWith("input "))
        .map(l => new org.apache.hadoop.fs.Path(l.stripPrefix("input ")).toUri)
        .exists(u => Option(u.getScheme).forall(_ == "file") &&
          u.getPath.startsWith("/") && !Files.exists(Paths.get(u.getPath)))
      catch { case NonFatal(_) => false }
    children(root).filter(Files.isDirectory(_)).map { dir =>
      // published entries only: staging names carry `_<pid>_<nonce>`
      val gone = children(dir)
        .filter(e => !e.getFileName.toString.contains('_') && orphaned(e))
      gone.foreach(retire)
      scala.util.Try(Files.deleteIfExists(dir)) // only if now empty
      gone.size
    }.sum
  }

  private def quietlyDelete(p: Path): Unit =
    scala.util.Try(Tables.deleteRecursively(p)): Unit

  private val outcomes = new ConcurrentHashMap[String, (Int, Int)]()

  private def nameOf(recipe: String, scope: String): String =
    s"$recipe@${Paths.get(scope).getFileName}-${Dedup.tableTag(scope).take(6)}"

  private def record(recipe: String, scope: String, served: Boolean): Unit = {
    outcomes.merge(nameOf(recipe, scope), if (served) (1, 0) else (0, 1),
      (a, b) => (a._1 + b._1, a._2 + b._2)); ()
  }

  /** (served, built) counts of (recipe, scope) in this process. */
  private[graft] def outcome(recipe: String, scope: String): (Int, Int) =
    Option(outcomes.get(nameOf(recipe, scope))).getOrElse((0, 0))

  /** (warm, cold) names, each sorted: a (recipe, scope) is cold if any
    * of its calls in this process built, warm if every call was served.
    */
  def evidence: (List[String], List[String]) = {
    val (cold, warm) = outcomes.asScala.toList.partition(_._2._2 > 0)
    (warm.map(_._1).sorted, cold.map(_._1).sorted)
  }
}
