package graft.api

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}
import java.nio.file.{Files, NoSuchFileException, Path, Paths}
import java.util.concurrent.TimeUnit
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.FileStatus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{GraftTxParquetIndex, GraftV2Bridge,
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.ExactDistinctAgg
import graft.shelf.StatCache

/** Table profiling — the data-quality pass every lake runs on ingest:
  * one row per column with null count, exact distinct count, and
  * min/max rendered as strings (so heterogenous column types share one
  * output schema). The whole profile is ONE aggregation pass over the
  * table (all per-column aggregates fused into a single job — at
  * 100 TB the scan dominates, so one pass for 5 columns costs a fifth
  * of five single-column passes), unpivoted to rows afterwards.
  *
  * Exact distinct (not approx) keeps the result engine-replayable.
  * Integral, date and timestamp columns count it with
  * [[ExactDistinctAgg]], a Roaring bitmap per task: no row expansion,
  * and the shuffle carries one buffer per task, about 1 bit per
  * distinct value in a dense range and about 2 bytes per value when
  * sparse within a 2^16 block, all merged in the one final task. Every
  * other type keeps `countDistinct`, which shuffles each task's
  * distinct values.
  *
  * '''Per-file partials.''' When every profiled column takes the bitmap
  * and the input is a bare file scan — a [[HadoopFsRelation]] with no
  * partition columns or buckets, under nothing but column-selecting
  * projections — the profile is merged from one partial per input file:
  * its null counts, serialized bitmaps and typed min/max. A local
  * file's partial is a [[BuildCache]] entry (recipe `profile-part`,
  * scope and input the file, keyed by its stat identity, the file
  * format, reader options, data schema, profiled columns and the
  * session's `spark.sql.*` settings), so a profile of many files after
  * one changed re-reads only that one. The files without an entry are
  * scanned when `profile` is called, not when the returned frame runs:
  * one aggregation grouped by file, over a relation of just those
  * files. A partial is published only if the frame's listing of the
  * file (length and mtime) matches its stat, the stat held across the
  * scan, and its ctime precedes the scan start by more than
  * [[StatCache]]'s racy window; otherwise, or where the file has no
  * `unix:*` stat or is gone, it is used once. The merge is a Spark
  * aggregate over the partial rows, so min/max and their string casts
  * stay Spark's.
  * Every other input plans the single aggregation above.
  */
object Profile {

  private val Recipe = "profile-part"
  private val Ver = 1
  private val PartFile = "part"

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val picked = df.select(cols.map(col): _*)
    val types = picked.schema.map(_.dataType)
    val one = bareScan(picked.queryExecution.analyzed)
      .filter(_ => types.forall(ExactDistinctAgg.supports))
      .fold(singlePass(df, cols, types))(perFile(df.sparkSession, _, cols, types))
    // unpivot: one struct per column, exploded to (column, ...) rows in
    // the caller's column order
    val rows = array(cols.map(c => struct(
      lit(c).as("column"),
      col(s"__nn_$c").as("n_nulls"),
      col(s"__nd_$c").as("n_distinct"),
      col(s"__mn_$c").as("min_str"),
      col(s"__mx_$c").as("max_str"))): _*)
    one.select(explode(rows).as("p")).select("p.*")
  }

  private def nulls(c: String) = count(lit(1)).minus(count(col(c))).cast("long")

  private def singlePass(df: DataFrame, cols: Seq[String], types: Seq[DataType]): DataFrame = {
    val aggs = cols.zip(types).flatMap { case (c, t) =>
      val distinct = if (ExactDistinctAgg.supports(t)) ExactDistinctAgg(col(c)) else countDistinct(col(c))
      Seq(nulls(c).as(s"__nn_$c"),
        distinct.as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** The file relation `plan` reads, if it is a bare file scan. */
  private def bareScan(plan: LogicalPlan): Option[HadoopFsRelation] = {
    def leaf(p: LogicalPlan): Option[LogicalRelation] = p match {
      case Project(list, child) if list.forall(_.isInstanceOf[AttributeReference]) => leaf(child)
      case l: LogicalRelation => Some(l)
      case _ => None
    }
    leaf(plan).filter(l => !l.isStreaming &&
      plan.output.forall(a => l.output.exists(_.exprId == a.exprId)))
      .map(_.relation).collect {
        case r: HadoopFsRelation if r.partitionSchema.isEmpty && r.bucketSpec.isEmpty => r
      }
  }

  /** One column's partial over one file: its null count, the serialized
    * bitmap of its values (null for a file with no rows), and its min
    * and max as Spark's internal value (the integer, days or micros).
    */
  private final case class Part(nulls: Long, bitmap: Array[Byte],
                                min: Option[Long], max: Option[Long])

  private def perFile(spark: SparkSession, rel: HadoopFsRelation, cols: Seq[String],
                      types: Seq[DataType]): DataFrame = {
    val files = rel.location.listFiles(Nil, Nil).flatMap(_.files).map(_.fileStatus)
    val params = Seq(
      "format" -> rel.fileFormat.getClass.getName,
      // the file is the scope: the paths a reader was handed are not part of it
      "options" -> rel.options.toSeq.filterNot(o => Set("path", "paths")(o._1.toLowerCase))
        .sorted.mkString(","),
      "schema" -> rel.dataSchema.json,
      "columns" -> cols.zip(types).map { case (c, t) => s"$c ${t.sql}" }.mkString(","),
      "sql" -> SchemaMemo.sqlSettings(spark))
    // each local file's stat and key, taken before it is read. The scan
    // reads the file as the frame listed it, so a file whose listing no
    // longer matches its stat has no key
    val keys = files.flatMap { st =>
      val u = st.getPath.toUri
      val stat = if (Option(u.getScheme).forall(_ == "file")) localStat(u.getPath) else None
      stat.filter(s => st.getLen == s.size &&
          st.getModificationTime == TimeUnit.NANOSECONDS.toMillis(s.mtimeNs))
        .map(s => st.getPath ->
          (s, BuildCache.key(spark, Recipe, Ver, Seq(u.getPath), u.getPath, params)))
    }.toMap
    val served = keys.flatMap { case (p, (_, k)) =>
      BuildCache.lookup(k).map(d => p -> read(Paths.get(d, PartFile), types.size))
    }
    val started = TimeUnit.MILLISECONDS.toNanos(System.currentTimeMillis())
    val scanned = scan(spark, rel, files.filterNot(st => served.contains(st.getPath)),
      cols, types)
    scanned.foreach { case (p, parts) =>
      keys.get(p).foreach { case (s, k) =>
        if (started - s.ctimeNs > StatCache.RacyNanos &&
            localStat(p.toUri.getPath).contains(s))
          BuildCache.publish(spark, k)(dir => write(Paths.get(dir, PartFile), parts))
      }
    }
    merge(spark, files.map(st => served.getOrElse(st.getPath, scanned(st.getPath))), cols, types)
  }

  /** The stat of a local file; None also for one that is gone, whose
    * reading is left to the scan (`spark.sql.files.ignoreMissingFiles`).
    */
  private def localStat(path: String): Option[StatCache.Stat] =
    try StatCache.stat(Paths.get(path)) catch { case _: NoSuchFileException => None }

  /** The partials of `files`, from one aggregation grouped by file. */
  private def scan(spark: SparkSession, rel: HadoopFsRelation, files: Seq[FileStatus],
                   cols: Seq[String], types: Seq[DataType]): Map[org.apache.hadoop.fs.Path, Seq[Part]] =
    if (files.isEmpty) Map.empty
    else {
      val index = new GraftTxParquetIndex(spark, files.head.getPath.getParent,
        files.map(st => st.getPath.toString -> st), _ => files.map(_.getPath.toString).toSet)
      val aggs = cols.flatMap(c => Seq(nulls(c), ExactDistinctAgg.partial(col(c)),
        min(col(c)), max(col(c))))
      val qe = GraftV2Bridge.fileFrame(spark, index, rel.dataSchema, rel.fileFormat, rel.options)
        .groupBy(input_file_name()).agg(aggs.head, aggs.tail: _*).queryExecution
      // internal rows: date and timestamp bounds come back as days and
      // micros, with no java.sql calendar rebase
      val rows = SQLExecution.withNewExecutionId(qe)(qe.executedPlan.executeCollect())
      val byName = files.map(st => st.getPath.toUri.toString -> st.getPath).toMap
      val got = rows.map { r =>
        val name = r.getUTF8String(0).toString
        byName.getOrElse(name, throw new IllegalStateException(
          s"profile: the scan grouped rows under $name, which is not one of its files")) ->
          cols.indices.map { i =>
            val o = 1 + 4 * i
            def bound(j: Int) = if (r.isNullAt(j)) None
              else Some(r.get(j, types(i)).asInstanceOf[java.lang.Number].longValue)
            Part(r.getLong(o), r.getBinary(o + 1), bound(o + 2), bound(o + 3))
          }
      }.toMap
      // a file with no rows forms no group
      val empty = cols.map(_ => Part(0L, null, None, None))
      files.map(st => st.getPath -> got.getOrElse(st.getPath, empty)).toMap
    }

  /** The one profile row: a Spark aggregate over a local relation of the
    * files' partial rows.
    */
  private def merge(spark: SparkSession, parts: Seq[Seq[Part]], cols: Seq[String],
                    types: Seq[DataType]): DataFrame = {
    val schema = StructType(types.zipWithIndex.flatMap { case (t, i) => Seq(
      StructField(s"nn$i", LongType, nullable = false), StructField(s"bm$i", BinaryType),
      StructField(s"mn$i", t), StructField(s"mx$i", t)) })
    val rows = parts.map(ps => Row.fromSeq(ps.zip(types).flatMap { case (p, t) =>
      Seq(p.nulls, p.bitmap, p.min.map(external(_, t)).orNull, p.max.map(external(_, t)).orNull)
    }))
    val aggs = cols.zip(types).zipWithIndex.flatMap { case ((c, t), i) => Seq(
      coalesce(sum(col(s"nn$i")), lit(0L)).as(s"__nn_$c"),
      ExactDistinctAgg.merge(col(s"bm$i"), t).as(s"__nd_$c"),
      min(col(s"mn$i")).cast("string").as(s"__mn_$c"),
      max(col(s"mx$i")).cast("string").as(s"__mx_$c")) }
    spark.createDataFrame(rows.asJava, schema).agg(aggs.head, aggs.tail: _*)
  }

  /** The external value of internal `v`; the java.time forms convert
    * exactly, with no calendar rebase.
    */
  private def external(v: Long, t: DataType): Any = t match {
    case ByteType => v.toByte
    case ShortType => v.toShort
    case IntegerType => v.toInt
    case DateType => DateTimeUtils.daysToLocalDate(v.toInt)
    case TimestampType => DateTimeUtils.microsToInstant(v)
    case TimestampNTZType => DateTimeUtils.microsToLocalDateTime(v)
    case _ => v
  }

  private def write(file: Path, parts: Seq[Part]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(Files.newOutputStream(file)))
    try parts.foreach { p =>
      out.writeLong(p.nulls)
      if (p.bitmap == null) out.writeInt(-1)
      else { out.writeInt(p.bitmap.length); out.write(p.bitmap) }
      Seq(p.min, p.max).foreach { v => out.writeBoolean(v.isDefined); v.foreach(out.writeLong) }
    } finally out.close()
  }

  private def read(file: Path, n: Int): Seq[Part] = {
    val in = new DataInputStream(new BufferedInputStream(Files.newInputStream(file)))
    def bound(): Option[Long] = if (in.readBoolean()) Some(in.readLong()) else None
    try (0 until n).map { _ =>
      val nulls = in.readLong()
      val len = in.readInt()
      val bitmap = if (len < 0) null else { val b = new Array[Byte](len); in.readFully(b); b }
      val mn = bound()
      Part(nulls, bitmap, mn, bound())
    } finally in.close()
  }
}
