package graft.shelf

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** Immutable raw-input snapshots: single file (with extension) or
  * directory (with per-file manifest), stored content-addressed with a
  * YAML sidecar.
  *
  * Reference: /root/reference/src/shelf/snapshots.py (snapshot_type :34,
  * data paths :50-58, file ingest :147-173, dir ingest :91-116, staleness
  * :175-184, fetch/restore :186-205 + 281-309).
  */
final case class Snapshot(uri: StepURI,
                          snapshotType: String, // "file" | "directory"
                          checksum: String,
                          extension: Option[String],
                          manifest: Option[Map[String, String]],
                          extra: Map[String, Any]) {

  def dataPath(root: Path): Path = {
    val base = root.resolve("data/snapshots").resolve(uri.path)
    snapshotType match {
      case "file"      => base.resolveSibling(base.getFileName.toString + extension.getOrElse(""))
      case "directory" => base
    }
  }

  def metadataPath(root: Path): Path = Snapshots.metadataPath(root, uri)

  def sidecarDoc: Map[String, Any] = {
    val core = Map[String, Any](
      "uri" -> uri.toString,
      "version" -> 1,
      "checksum" -> checksum,
      "snapshot_type" -> snapshotType)
    val typed = snapshotType match {
      // an extensionless file OMITS the key rather than writing "" —
      // the empty string violates snapshot-v1's `^\.[a-z0-9]+$` pattern
      case "file"      => extension.map(e => Map[String, Any]("extension" -> e))
        .getOrElse(Map.empty[String, Any])
      case "directory" => Map[String, Any]("manifest" -> manifest.getOrElse(Map.empty))
    }
    core ++ typed ++ extra
  }

  /** Fresh ⇔ data exists and hashes to the recorded checksum
    * (snapshots.py:175-184). Each data file's hash goes through
    * [[StatCache]], so an unchanged file is not re-read; a directory is
    * still walked on every check, so added or removed files are caught.
    */
  def isFresh(root: Path): Boolean = {
    val p = dataPath(root)
    if (!Files.exists(p)) false
    else if (snapshotType == "file") StatCache.checksumFile(p) == checksum
    else Checksums.checksumManifest(
      Checksums.checksumFolder(p, StatCache.checksumFile)) == checksum
  }

  /** Restore from the store into the data path. Directory restore deletes
    * files not in the manifest (snapshots.py:281-309).
    */
  def fetch(root: Path, store: Store): Unit = snapshotType match {
    case "file" =>
      store.fetch(checksum, dataPath(root))
    case "directory" =>
      val dir = dataPath(root)
      Files.createDirectories(dir)
      val m = manifest.getOrElse(Map.empty)
      m.foreach { case (name, cs) => store.fetch(cs, dir.resolve(name)) }
      // remove extraneous files
      Files.walk(dir).iterator().asScala
        .filter(Files.isRegularFile(_))
        .filterNot(p => m.contains(dir.relativize(p).toString))
        .foreach(Files.delete(_))
  }
}

object Snapshots {

  def metadataPath(root: Path, uri: StepURI): Path = {
    val kind = if (uri.scheme == "snapshot") "snapshots" else "tables"
    root.resolve(s"data/$kind").resolve(uri.path + ".meta.yaml")
  }

  /** Ingest a file or directory as a snapshot: checksum, copy into the
    * data layout, upload to the store, write the sidecar
    * (snapshots.py:78-173). Carries over `preserved` metadata minus
    * volatile fields on --force re-snapshot (__init__.py:198-206).
    */
  def create(root: Path, source: Path, uri: StepURI, store: Store,
             preserved: Map[String, Any] = Map.empty): Snapshot = {
    require(Files.exists(source), s"no such path: $source")
    val snap = if (Files.isDirectory(source)) {
      val manifest = Checksums.checksumFolder(source)
      val checksum = Checksums.checksumManifest(manifest)
      Snapshot(uri, "directory", checksum, None, Some(manifest), preserved)
    } else {
      val checksum = Checksums.checksumFile(source)
      val name = source.getFileName.toString
      val ext = name.lastIndexOf('.') match {
        case -1 => None
        case i  => Some(name.substring(i))
      }
      Snapshot(uri, "file", checksum, ext, None, preserved)
    }
    // validate BEFORE any side effect (snapshots.py:134 + schemas.py
    // validate_snapshot, nulls pruned): a metadata violation — e.g. an
    // uppercase extension against `^\.[a-z0-9]+$` — must abort the
    // ingest cleanly, not after the data copy and store upload have
    // already happened (which would strand an orphaned blob with no
    // sidecar — the atomicity discipline tables already follow)
    Schemas.ensure(Schemas.pruneNulls(snap.sidecarDoc), Schemas.SnapshotV1,
      snap.metadataPath(root).toString)
    val dest = snap.dataPath(root)
    if (snap.snapshotType == "directory") {
      copyTree(source, dest)
      snap.manifest.getOrElse(Map.empty)
        .foreach { case (name, cs) => store.put(dest.resolve(name), cs) }
    } else {
      Files.createDirectories(dest.getParent)
      Files.copy(source, dest, StandardCopyOption.REPLACE_EXISTING)
      store.put(dest, snap.checksum)
    }
    Yaml.save(snap.metadataPath(root), snap.sidecarDoc)
    Checksums.addToGitignore(root, "data/snapshots")
    snap
  }

  /** Load + schema-validate the sidecar (snapshots.py:65-72): a
    * hand-edited document fails with schema-keyed errors before any
    * field is interpreted. MIGRATION: sidecars written before round 11
    * recorded `extension: ''` for extensionless files (the writer now
    * omits the key); the empty string is dropped before validation so
    * a previously valid shelf stays loadable — fromDoc already treats
    * '' and absent identically.
    */
  def load(root: Path, uri: StepURI): Snapshot = {
    val doc = Yaml.load(metadataPath(root, uri))
    val compat = doc.filterNot { case (k, v) => k == "extension" && v == "" }
    Schemas.ensure(Schemas.pruneNulls(compat), Schemas.SnapshotV1,
      metadataPath(root, uri).toString)
    fromDoc(doc)
  }

  def fromDoc(doc: Map[String, Any]): Snapshot = {
    val uri = StepURI.parse(doc("uri").toString)
    val tpe = doc.getOrElse("snapshot_type",
      if (doc.contains("manifest")) "directory" else "file").toString
    val known = Set("uri", "version", "checksum", "snapshot_type", "extension", "manifest")
    Snapshot(
      uri = uri,
      snapshotType = tpe,
      checksum = doc("checksum").toString,
      extension = doc.get("extension").map(_.toString).filter(_.nonEmpty),
      manifest = doc.get("manifest").map(_.asInstanceOf[Map[String, Any]]
        .map { case (k, v) => k -> v.toString }),
      extra = doc.view.filterKeys(k => !known.contains(k)).toMap)
  }

  /** Audit: the full re-hash, never served from [[StatCache]]. A
    * directory snapshot re-folds its manifest and `fix` rewrites the
    * sidecar (__init__.py:315-350). A file snapshot re-hashes its data
    * and `fix` restores the recorded bytes from the store. A mismatch
    * also drops the cached hashes of the audited data, so the next
    * staleness check reads it again.
    */
  def audit(root: Path, uri: StepURI, fix: Boolean,
            store: Store): Either[String, Unit] = {
    val snap = load(root, uri)
    val data = snap.dataPath(root)
    if (!Files.exists(data)) return Right(()) // nothing local to audit
    // folderManifest (not checksumFolder): an emptied-out snapshot
    // dir must REPORT as a mismatch, not crash the audit run
    val manifest =
      if (snap.snapshotType == "directory") Some(Checksums.folderManifest(data))
      else None
    val actual = manifest.fold(Checksums.checksumFile(data))(Checksums.checksumManifest)
    if (actual == snap.checksum) Right(())
    else {
      StatCache.forget(data)
      if (!fix) Left(s"$uri: checksum mismatch (recorded ${snap.checksum}, actual $actual)")
      else {
        manifest match {
          case Some(m) =>
            val fixed = snap.copy(checksum = actual, manifest = Some(m))
            Yaml.save(fixed.metadataPath(root), fixed.sidecarDoc)
          case None => snap.fetch(root, store)
        }
        Right(())
      }
    }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    Files.walk(from).iterator().asScala.foreach { p =>
      val dest = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dest)
      else {
        Files.createDirectories(dest.getParent)
        Files.copy(p, dest, StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
