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
