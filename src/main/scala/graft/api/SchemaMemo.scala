package graft.api

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetFooter
import org.apache.spark.sql.types.StructType
import graft.shelf.StatCache

/** Parquet-schema memo keyed on (path, stat identity, inference
  * flags): every `spark.read.parquet` WITHOUT a user schema re-infers
  * the schema at DataFrame construction time, and on one file Spark
  * runs a one-task job just to read that file's footer (85-113 ms wall
  * per read, local[4]). A miss on a single file decodes the footer on
  * the calling thread instead ([[footerSchema]]: ~15 ms, no job); a
  * directory keeps Spark's inference, which also resolves its
  * partition columns. The schema is metadata, not data: it is read
  * once per (file version, flags, JVM). Query RESULTS are never
  * memoized — only the footer's type signature.
  *
  * The file version is the stat identity the shelf's [[StatCache]]
  * reads — (device, inode, size, mtime ns, ctime ns) of a file, or of
  * every data file under a directory table (names included, so an
  * added or removed part file misses too). ctime is in the identity
  * because no user call can set it back: an in-place rewrite under an
  * unchanged name, size and reset mtime still misses. A path with no
  * `unix:*` attributes, or one that cannot be stat'ed (absent, or not a
  * local path), reads through and skips both memos.
  *
  * The flags are the session settings a footer without Spark's row
  * metadata decodes under (binaryAsString, int96AsTimestamp,
  * inferTimestampNTZ, nanosAsLong, respectUnknownTypeAnnotation): one
  * file read under two settings gets two schemas, in one session or
  * across sessions.
  */
object SchemaMemo {
  private type Version = Seq[(String, StatCache.Stat)]
  private type Key = (String, Version, GraftParquetFooter.Flags)

  private val memo = new java.util.concurrent.ConcurrentHashMap[Key, StructType]()

  /** Relation memo (round 22): even with the schema supplied,
    * `s.read.schema(sch).parquet(path)` re-runs DataSource resolution
    * and builds a fresh InMemoryFileIndex (a file listing) per
    * DataFrame construction. A DataFrame is an immutable plan —
    * callers only derive new frames from it — so the RELATION frame
    * itself is memoized per (session, path, version, flags): one
    * resolution per (file version, flags, session), and any rewrite
    * misses exactly like the schema memo. Plans only, never results;
    * each session's table is one [[SessionMemo]] entry, bounded by
    * #tables x #dirs and cleared wholesale if it ever exceeds the cap
    * (a long-lived server iterating hundreds of dirs must not accrete
    * file indexes).
    */
  private val DfMemoCap = 512

  /** Spark's hidden-path rule: `_`/`.`-prefixed names are not data. */
  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith("_") && !n.startsWith(".")
  }

  private def version(path: String): Option[Version] =
    try {
      val root = Paths.get(path)
      if (!Files.isDirectory(root)) StatCache.stat(root).map(st => Seq("" -> st))
      else {
        import scala.jdk.CollectionConverters._
        val walk = Files.walk(root)
        val files = try walk.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            root.relativize(p).iterator().asScala.forall(isData))
          .toVector finally walk.close()
        val stats = files.map(f => root.relativize(f).toString -> StatCache.stat(f))
        if (stats.exists(_._2.isEmpty)) None
        else Some(stats.map { case (n, st) => n -> st.get }.sortBy(_._1))
      }
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException |
           _: java.nio.file.InvalidPathException => None
    }

  /** CSV schemas as `inferSchema` finds them, keyed by content: (the
    * file's sha256, the reader options, [[sqlSettings]]). Inference
    * costs two Spark jobs (the header, then a full scan for the types);
    * a hit costs none. Cleared wholesale past the cap, as the relation
    * memo is.
    */
  private val csvSchemas =
    new java.util.concurrent.ConcurrentHashMap[(String, Map[String, String], String), StructType]()
  private val CsvMemoCap = 512

  /** The schema of the CSV content `sha256` read under `options`:
    * `infer` runs on a miss only.
    */
  def csvSchema(s: SparkSession, sha256: String, options: Map[String, String])(
      infer: => StructType): StructType = {
    if (csvSchemas.size() > CsvMemoCap) csvSchemas.clear()
    csvSchemas.computeIfAbsent((sha256, options, sqlSettings(s)), _ => infer)
  }

  /** The session's `spark.sql.*` settings, sorted: part of the key of
    * anything derived from a read under them.
    */
  private[graft] def sqlSettings(s: SparkSession): String =
    s.conf.getAll.filter(_._1.startsWith("spark.sql.")).toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString(", ")

  /** The schema `spark.read.parquet(file)` infers for one parquet file,
    * decoded from its footer on the calling thread: no Spark job.
    */
  def footerSchema(s: SparkSession, file: String): StructType =
    GraftParquetFooter.schema(s, file, GraftParquetFooter.flags(s))

  def read(s: SparkSession, path: String): DataFrame = version(path) match {
    case None => s.read.parquet(path)
    case Some(v) =>
      val flags = GraftParquetFooter.flags(s)
      val rels = SessionMemo(s, "schemaMemo.relations", ())(
        new java.util.concurrent.ConcurrentHashMap[Key, DataFrame]())
      if (rels.size() > DfMemoCap) rels.clear()
      rels.computeIfAbsent((path, v, flags), key => {
        val sch = memo.computeIfAbsent(key, _ =>
          if (Files.isRegularFile(Paths.get(path))) GraftParquetFooter.schema(s, path, flags)
          else s.read.parquet(path).schema)
        s.read.schema(sch).parquet(path)
      })
  }
}
