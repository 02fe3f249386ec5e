package graftbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  lazy val spark = graft.SparkConfig.builder("perfbench-test", 2).getOrCreate()

  private def files(dir: Path): Map[String, Seq[Byte]] = {
    val all = Files.walk(dir)
    try all.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally all.close()
  }

  test("the tx fingerprint ignores row order and partitioning, and matches the model") {
    val r = new java.util.SplittableRandom(3)
    val model = new TxModel
    (0 until 500).foreach { k =>
      model.rows(k.toLong) = TxRow(k, r.nextLong(1000000L), k % 7, TxModel.pad(r))
    }
    val rows = model.rows.values.toSeq
    def frame(rs: Seq[TxRow], parts: Int) = spark.createDataFrame(
      java.util.Arrays.asList(rs.map(x =>
        org.apache.spark.sql.Row(x.k, x.v, x.cyc, x.pad)): _*), TxModel.schema)
      .repartition(parts)
    val a = TxModel.fingerprint(frame(rows, 1))
    val b = TxModel.fingerprint(frame(scala.util.Random.shuffle(rows), 5))
    assert(a == b)
    assert(a == model.fingerprint())
    // and it is not blind: one changed value moves it
    val changed = rows.head.copy(v = rows.head.v + 1) +: rows.tail
    assert(TxModel.fingerprint(frame(changed, 3)) != a)
  }

  test("the same seed gives byte-identical shelf inputs; another seed does not") {
    val base = Files.createTempDirectory("perfbench-gen")
    ShelfInputs.generate(spark, base.resolve("a"), 11)
    ShelfInputs.generate(spark, base.resolve("b"), 11)
    ShelfInputs.generate(spark, base.resolve("c"), 12)
    val a = files(base.resolve("a"))
    assert(a.keySet.size == ShelfInputs.ParquetFiles + ShelfInputs.CsvFiles +
      ShelfInputs.JsonParts)
    assert(a == files(base.resolve("b")))
    val c = files(base.resolve("c"))
    assert(a.keySet == c.keySet && a.forall { case (k, v) => c(k) != v })
    Main.deleteTree(base)
  }
}
