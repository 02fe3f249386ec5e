package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The footer-schema memo behind H.t / the graph reads / the
  * served-from-disk index loads (api.SchemaMemo): same schema and rows
  * as a plain inference read, and the (path, stat identity) key must
  * drop the memo the moment the file changes — a rewritten scratch
  * table re-infers instead of reading through a stale schema.
  */
class SchemaMemoSpec extends AnyFunSuite {
  import SparkTestSession.{spark, sfDir}

  test("memoized read equals a plain inference read (schema + rows)") {
    val plain = spark.read.parquet(s"$sfDir/documents.parquet")
    val memod = api.SchemaMemo.read(spark, s"$sfDir/documents.parquet")
    assert(memod.schema === plain.schema)
    assert(memod.count() === plain.count())
    // second call serves the memo (same key) and still reads the data
    val again = api.SchemaMemo.read(spark, s"$sfDir/documents.parquet")
    assert(again.schema === plain.schema)
    assert(again.agg(sum(length(col("text")))).collect().head.getLong(0) ===
      plain.agg(sum(length(col("text")))).collect().head.getLong(0))
  }

  test("a rewritten file re-infers: schema change is picked up") {
    val dir = java.nio.file.Files.createTempDirectory("schemamemo").toFile
    dir.deleteOnExit()
    val p = new java.io.File(dir, "t.parquet").getAbsolutePath
    spark.range(0, 5).select(col("id").as("a")).coalesce(1)
      .write.mode("overwrite").parquet(p)
    assert(api.SchemaMemo.read(spark, p).schema.fieldNames.toSeq === Seq("a"))
    // rewrite with a DIFFERENT schema; ensure the mtime actually moves
    // even on a coarse-granularity filesystem
    Thread.sleep(1100)
    spark.range(0, 7)
      .select(col("id").as("a"), (col("id") * 2).as("b")).coalesce(1)
      .write.mode("overwrite").parquet(p)
    val after = api.SchemaMemo.read(spark, p)
    assert(after.schema.fieldNames.toSeq === Seq("a", "b"))
    assert(after.count() === 7)
  }

  test("an in-place rewrite with the same size and a reset mtime re-reads") {
    import java.nio.file.{FileSystems, Files, Path}
    assume(FileSystems.getDefault.supportedFileAttributeViews.contains("unix"),
      "no unix:* file attributes on this platform")
    val dir = Files.createTempDirectory("schemamemo-inplace")
    // two single-file tables of one size: same row count, same-length
    // column names, plain uncompressed longs of equal width
    def partFile(col: String, from: Long): Path = {
      val out = dir.resolve(s"src_$col")
      spark.range(from, from + 5).toDF(col).coalesce(1).write
        .option("compression", "uncompressed")
        .option("parquet.enable.dictionary", "false")
        .parquet(out.toString)
      val s = Files.list(out)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
      finally s.close()
    }
    val a = partFile("a", 0L)
    val b = partFile("b", 10L)
    assert(Files.size(a) === Files.size(b))
    val p = dir.resolve("t.parquet")
    Files.copy(a, p)
    val before = graft.ops.H.t(spark, dir.toString, "t")
    assert(before.schema.fieldNames.toSeq === Seq("a"))
    assert(before.collect().map(_.getLong(0)).toSeq.sorted === (0L until 5L))
    // same inode, same size, mtime put back: only ctime moves
    val mtime = Files.getLastModifiedTime(p)
    val ch = java.nio.channels.FileChannel.open(p,
      java.nio.file.StandardOpenOption.WRITE)
    try ch.write(java.nio.ByteBuffer.wrap(Files.readAllBytes(b)), 0) finally ch.close()
    Files.setLastModifiedTime(p, mtime)
    val after = graft.ops.H.t(spark, dir.toString, "t")
    assert(after.schema.fieldNames.toSeq === Seq("b"))
    assert(after.collect().map(_.getLong(0)).toSeq.sorted === (10L until 15L))
  }
}

/** The driver-side footer decoder behind [[api.SchemaMemo]]'s misses
  * and the tx staged-file schemas: it must infer exactly what
  * `spark.read.parquet(file)` infers, and the memo must key on the
  * session flags that decoding reads.
  */
class FooterSchemaSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import org.apache.hadoop.fs.{Path => HPath}
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.example.ExampleParquetWriter
  import org.apache.parquet.io.api.Binary
  import org.apache.parquet.schema.MessageTypeParser
  import org.apache.spark.sql.SparkSession
  import org.apache.spark.sql.types._

  private def tmpFile(name: String): String = {
    val dir = java.nio.file.Files.createTempDirectory("footerschema")
    dir.resolve(name).toString
  }

  /** One row through parquet-hadoop's example writer: no Spark
    * row-metadata schema, so the message type alone decides the
    * Spark types. `i` is REQUIRED, so only `asNullable` makes it
    * nullable.
    */
  private def exampleFile(extra: String, value: Any): String = {
    val file = tmpFile("example.parquet")
    val tpe = MessageTypeParser.parseMessageType(
      s"message m { required int32 i; $extra; }")
    val w = ExampleParquetWriter.builder(new HPath(file)).withType(tpe)
      .withConf(new org.apache.hadoop.conf.Configuration()).build()
    try {
      val g = new SimpleGroupFactory(tpe).newGroup().append("i", 1)
      val name = tpe.getFieldName(1)
      value match {
        case b: Array[Byte] => g.append(name, Binary.fromConstantByteArray(b))
        case l: Long => g.append(name, l)
      }
      w.write(g)
    } finally w.close()
    file
  }

  private def withConf[T](s: SparkSession, key: String, value: Boolean)(body: => T): T = {
    val before = s.conf.getOption(key)
    s.conf.set(key, value.toString)
    try body finally before.fold(s.conf.unset(key))(s.conf.set(key, _))
  }

  private def decoded(s: SparkSession, file: String): Either[String, StructType] =
    try Right(api.SchemaMemo.footerSchema(s, file))
    catch { case e: Exception => Left(e.getClass.getName) }
  private def inferred(s: SparkSession, file: String): Either[String, StructType] =
    try Right(s.read.parquet(file).schema)
    catch { case e: Exception => Left(e.getClass.getName) }

  test("Spark-written files: nested, decimal, temporal, binary and string columns") {
    val file = tmpFile("spark.parquet")
    spark.sql("""SELECT
        named_struct('a', 1, 'b', array(1.5D, 2.5D)) AS st,
        array(named_struct('k', 'x', 'v', map('m', 2L))) AS arr,
        map('k', array(1L, 2L)) AS m,
        CAST(1.5 AS DECIMAL(38,18)) AS dec,
        DATE'2026-01-01' AS d,
        TIMESTAMP'2026-01-01 12:00:00' AS ts,
        TIMESTAMP_NTZ'2026-01-01 12:00:00' AS ntz,
        X'CAFE' AS bin,
        'str' AS s,
        CAST(NULL AS INT) AS n""").coalesce(1).write.parquet(file)
    val part = new java.io.File(file).listFiles()
      .filter(_.getName.endsWith(".parquet")).head.getPath
    val plain = spark.read.parquet(part).schema
    assert(api.SchemaMemo.footerSchema(spark, part) === plain)
    assert(plain("dec").dataType === DecimalType(38, 18))
    assert(plain("ntz").dataType === TimestampNTZType)
    assert(plain.fields.forall(_.nullable), "literal columns read back nullable")
  }

  test("parquet-hadoop files decode like Spark's inference under each flag") {
    val cases = Seq(
      ("spark.sql.parquet.binaryAsString", "required binary b", "b".getBytes: Any),
      ("spark.sql.parquet.int96AsTimestamp", "optional int96 t", new Array[Byte](12): Any),
      ("spark.sql.parquet.inferTimestampNTZ.enabled",
        "optional int64 t (TIMESTAMP(MICROS,false))", 1L: Any),
      ("spark.sql.legacy.parquet.nanosAsLong",
        "optional int64 t (TIMESTAMP(NANOS,true))", 1L: Any))
    for ((key, column, value) <- cases; flag <- Seq(false, true)) {
      val file = exampleFile(column, value)
      withConf(spark, key, flag) {
        val plain = inferred(spark, file)
        // int96 without int96AsTimestamp and nanos without nanosAsLong
        // are errors for Spark; then both must fail
        assert(decoded(spark, file).isLeft === plain.isLeft, s"$key=$flag: $plain")
        plain.foreach { sch =>
          assert(decoded(spark, file) === Right(sch), s"$key=$flag")
          assert(sch("i").nullable, s"$key=$flag")
        }
      }
    }
  }

  test("the memo keys on the decode flags, in one session and across two") {
    val file = exampleFile("required binary b", "b".getBytes)
    val binKey = "spark.sql.parquet.binaryAsString"
    def bType(s: SparkSession) = api.SchemaMemo.read(s, file).schema("b").dataType
    withConf(spark, binKey, false) {
      assert(bType(spark) === BinaryType)
      withConf(spark, binKey, true) {
        assert(bType(spark) === StringType)
        assert(api.SchemaMemo.read(spark, file).collect()(0).getString(1) === "b")
      }
      assert(bType(spark) === BinaryType)
      val other = spark.newSession()
      withConf(other, binKey, true) {
        assert(bType(other) === StringType)
        assert(bType(spark) === BinaryType)
      }
    }
    val ntz = exampleFile("optional int64 t (TIMESTAMP(MICROS,false))", 1L)
    val ntzKey = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val (a, b) = (spark.newSession(), spark.newSession())
    withConf(a, ntzKey, true) {
      withConf(b, ntzKey, false) {
        assert(api.SchemaMemo.read(a, ntz).schema("t").dataType === TimestampNTZType)
        assert(api.SchemaMemo.read(b, ntz).schema("t").dataType === TimestampType)
      }
    }
  }
}
