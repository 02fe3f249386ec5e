package graft.shelf

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.security.MessageDigest
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import scala.collection.immutable.SortedMap
import scala.jdk.CollectionConverters._

/** SHA-256 checksums over files, folders, and manifests — byte-identical
  * to the reference so `audit` semantics carry over.
  *
  * Reference: /root/reference/src/shelf/utils.py:13-49 (IGNORE_FILES :13,
  * file hash :16-24, folder manifest :26-39, manifest fold :42-49).
  */
object Checksums {

  /** Files never included in folder checksums (utils.py:13). */
  val IgnoreFiles: Set[String] = Set(".DS_Store")

  def checksumFile(path: Path): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val in = Files.newInputStream(path)
    try {
      val buf = new Array[Byte](4096)
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) md.update(buf, 0, n)
        n = in.read(buf)
      }
    } finally in.close()
    hex(md.digest())
  }

  def checksumBytes(bytes: Array[Byte]): String =
    hex(MessageDigest.getInstance("SHA-256").digest(bytes))

  def checksumString(s: String): String =
    checksumBytes(s.getBytes("UTF-8"))

  /** Relative-path → sha256 manifest of every file under `dir`
    * (utils.py:26-39). Throws when the directory holds no files.
    */
  def checksumFolder(dir: Path,
                     hash: Path => String = checksumFile): SortedMap[String, String] = {
    val entries = folderManifest(dir, hash)
    require(entries.nonEmpty, s"""No files found in "$dir" to checksum""")
    entries
  }

  /** Audit-safe manifest walk: an EMPTY directory (data files rotted
    * away but the dir remains — exactly what audit exists to report)
    * yields an empty manifest whose fold can never equal a recorded
    * checksum, so the auditor reports a mismatch instead of crashing
    * the whole run. Ingest-time [[checksumFolder]] keeps the non-empty
    * guard for reference parity.
    */
  def folderManifest(dir: Path,
                     hash: Path => String = checksumFile): SortedMap[String, String] = {
    val entries = Files.walk(dir).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filterNot(p => IgnoreFiles.contains(p.getFileName.toString))
      .map(p => dir.relativize(p).toString -> hash(p))
      .toSeq
    SortedMap(entries: _*)
  }

  /** Fold a manifest into one checksum: sha256 over the sorted
    * (name, checksum) pairs' UTF-8 bytes, concatenated with no separator
    * (utils.py:42-49). Must stay byte-identical for audit parity.
    */
  def checksumManifest(manifest: Map[String, String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    manifest.toSeq.sortBy(_._1).foreach { case (name, cs) =>
      md.update(name.getBytes("UTF-8"))
      md.update(cs.getBytes("UTF-8"))
    }
    hex(md.digest())
  }

  private def hex(bytes: Array[Byte]): String =
    bytes.map("%02x".format(_)).mkString

  /** Append a path to .gitignore if absent
    * (utils.py:56-73, __init__.py:213).
    */
  def addToGitignore(repoRoot: Path, entry: String): Unit = {
    val gi = repoRoot.resolve(".gitignore")
    val lines: Seq[String] =
      if (Files.exists(gi)) Files.readAllLines(gi).asScala.toSeq else Seq.empty
    if (!lines.contains(entry)) {
      val content = (lines :+ entry).mkString("", "\n", "\n")
      Files.writeString(gi, content)
    }
  }
}

/** Stat-validated SHA-256 cache for snapshot data files — the git index
  * technique (https://git-scm.com/docs/racy-git). A file whose stat
  * identity (device, inode, size, mtime, ctime) is unchanged since it
  * was hashed gets its recorded hash back without a byte being read.
  * ctime is part of the identity because no user call can set it back:
  * a same-size rewrite with a reset mtime, or a rename over the file,
  * still misses.
  *
  * An entry is stored only when the stat taken before hashing equals
  * the one taken after, and the file's ctime is more than [[RacyNanos]]
  * older than the moment hashing began (git's racy-entry rule): a write
  * in the same timestamp tick as the hash can never hide behind an
  * unchanged stat. A mismatch drops the entry and re-hashes in full.
  * Entries live in process memory, keyed by absolute path. Where the
  * platform has no `unix:*` attributes every call hashes in full.
  */
private[graft] object StatCache {

  private final case class Stat(dev: Long, ino: Long, size: Long,
                                mtimeNs: Long, ctimeNs: Long)

  private val RacyNanos = TimeUnit.SECONDS.toNanos(2)

  private val entries = new ConcurrentHashMap[Path, (Stat, String)]()

  private def stat(p: Path): Option[Stat] =
    try {
      val a = Files.readAttributes(p, "unix:dev,ino,size,lastModifiedTime,ctime")
      def ns(k: String) = a.get(k).asInstanceOf[FileTime].to(TimeUnit.NANOSECONDS)
      def long(k: String) = a.get(k).asInstanceOf[java.lang.Long].longValue
      Some(Stat(long("dev"), long("ino"), long("size"),
        ns("lastModifiedTime"), ns("ctime")))
    } catch { case _: UnsupportedOperationException => None }

  def checksumFile(path: Path): String = {
    val key = path.toAbsolutePath.normalize
    val before = stat(key)
    before.flatMap(s => Option(entries.get(key)).filter(_._1 == s)) match {
      case Some((_, cs)) => cs
      case None =>
        entries.remove(key)
        val started = TimeUnit.MILLISECONDS.toNanos(System.currentTimeMillis())
        val cs = Checksums.checksumFile(key)
        before
          .filter(s => started - s.ctimeNs > RacyNanos && stat(key).contains(s))
          .foreach(s => entries.put(key, (s, cs)))
        cs
    }
  }

  /** Drop every entry at or under `path`. */
  def forget(path: Path): Unit = {
    val prefix = path.toAbsolutePath.normalize
    entries.keySet.removeIf(_.startsWith(prefix))
  }

  def isCached(path: Path): Boolean =
    entries.containsKey(path.toAbsolutePath.normalize)
}
