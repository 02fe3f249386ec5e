package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite
import graft.api.{BuildCache, Profile}
import graft.functions.ExactDistinctAgg
import graft.obs.{PlanPhases, SparkCounters}

/** The bitmap distinct count: it equals `countDistinct` on every type it
  * takes, `Profile.profile` keeps its rows, and its plan has no row
  * expansion and shuffles one buffer per task. Over a bare file scan
  * the profile merges per-file partials, and still equals the single
  * aggregation whatever happened to the files since the last profile.
  */
class ProfileSpec extends AnyFunSuite {
  import SparkTestSession.spark

  /** The aggregate list `Profile.profile` had before the bitmap path:
    * `countDistinct` on every column. */
  private def reference(df: DataFrame, cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(lit(1)).minus(count(col(c))).cast("long").as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(cols.map(c => struct(
      lit(c).as("column"),
      col(s"__nn_$c").as("n_nulls"),
      col(s"__nd_$c").as("n_distinct"),
      col(s"__mn_$c").as("min_str"),
      col(s"__mx_$c").as("max_str"))): _*)
    one.select(explode(rows).as("p")).select("p.*")
  }

  private val schema = StructType(Seq("g" -> IntegerType, "b" -> ByteType,
    "s" -> ShortType, "i" -> IntegerType, "l" -> LongType, "d" -> DateType,
    "ts" -> TimestampType, "ntz" -> TimestampNTZType, "nul" -> IntegerType)
    .map { case (n, t) => StructField(n, t) })
  private val valueCols = schema.fieldNames.toSeq.tail  // `nul` is null in every row

  private def values[T](extremes: Seq[T], near: Gen[T], any: Gen[T]): Gen[Option[T]] =
    Gen.frequency(1 -> Gen.const(None), 2 -> Gen.oneOf(extremes).map(Some(_)),
      3 -> near.map(Some(_)), 2 -> any.map(Some(_)))
  private val ints = values(Seq(Int.MinValue, Int.MaxValue, 0, -1),
    Gen.choose(-20, 20), Arbitrary.arbitrary[Int])
  private val longs = values(Seq(Long.MinValue, Long.MaxValue, 0L, -1L),
    Gen.choose(-20L, 20L), Arbitrary.arbitrary[Long])

  private val row: Gen[Row] = for {
    g <- Gen.choose(0, 2)
    b <- values(Seq(Byte.MinValue, Byte.MaxValue, 0.toByte, -1.toByte),
      Gen.choose(-20, 20).map(_.toByte), Arbitrary.arbitrary[Byte])
    s <- values(Seq(Short.MinValue, Short.MaxValue, 0.toShort, -1.toShort),
      Gen.choose(-20, 20).map(_.toShort), Arbitrary.arbitrary[Short])
    i <- ints; l <- longs; d <- ints; ts <- longs; ntz <- longs
  } yield Row(g, b.orNull, s.orNull, i.orNull, l.orNull,
    d.map(DateTimeUtils.daysToLocalDate).orNull,
    ts.map(DateTimeUtils.microsToInstant).orNull,
    ntz.map(DateTimeUtils.microsToLocalDateTime).orNull, null)

  /** Bitmap and `countDistinct` agree on every column, schema (a
    * non-null BIGINT) and rows, ungrouped and per group, at 1 and at 7
    * input partitions. */
  private def agrees(rows: Seq[Row]): Boolean = {
    val base = spark.createDataFrame(rows.asJava, schema)
    def both(f: Seq[Column] => DataFrame): Boolean = {
      val got = f(valueCols.map(c => ExactDistinctAgg(col(c)).as(c)))
      val want = f(valueCols.map(c => countDistinct(col(c)).as(c)))
      got.schema == want.schema && got.collect().toSeq == want.collect().toSeq
    }
    Seq(1, 7).forall { parts =>
      val df = base.repartition(parts)
      both(a => df.agg(a.head, a.tail: _*)) &&
        both(a => df.groupBy("g").agg(a.head, a.tail: _*).orderBy("g"))
    }
  }

  test("exact distinct equals countDistinct on integral, date and timestamp columns") {
    assert(agrees(Nil), "empty frame")
    val prop = Prop.forAll(Gen.choose(0, 40).flatMap(Gen.listOfN(_, row)))(agrees)
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(result.passed, Pretty.pretty(result))
  }

  test("Profile.profile on a mixed frame is row-identical to the countDistinct list") {
    val df = spark.range(0, 3000, 1, 5).select(
      when(col("id") % 13 === 0, lit(null)).otherwise(concat(lit("k"), (col("id") % 41).cast("string"))).as("str"),
      (col("id") % 97 - 48).cast("int").as("i"),
      when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 1000003L).as("big"),
      (col("id") % 53 / 8.0).as("dbl"),
      (col("id") % 211 / 100).cast("decimal(12,2)").as("dec"),
      date_add(lit("2024-01-01").cast("date"), (col("id") % 400).cast("int")).as("day"))
    val cols = Seq("dbl", "i", "str", "dec", "big", "day")
    val got = Profile.profile(df, cols)
    val want = reference(df, cols)
    assert(got.schema === want.schema)
    assert(got.collect().toSeq === want.collect().toSeq)
  }

  test("profile over integral columns plans no Expand and shuffles one buffer per task") {
    val df = spark.range(0, 200000, 1, 6).select(col("id"),
      (col("id") % 1000).cast("int").as("m"), (col("id") * 3).cast("int").as("s"))
    val cols = Seq("id", "m", "s")
    val aggs = df.schema.map(f => ExactDistinctAgg(BoundReference(0, f.dataType, nullable = true)))
    // the serialized partial buffers of each task, built here from its rows
    val buffers = df.rdd.mapPartitions { it =>
      val bufs = aggs.map(_.createAggregationBuffer())
      it.foreach(r => aggs.indices.foreach(i =>
        aggs(i).update(bufs(i), InternalRow(r.get(i)))))
      Iterator(aggs.indices.map(i => aggs(i).serialize(bufs(i)).length).sum)
    }.collect().sum

    val phases = PlanPhases.install(spark)
    try {
      var rows: Seq[Row] = Nil
      val c = SparkCounters.during(spark.sparkContext) { rows = Profile.profile(df, cols).collect().toSeq }
      val ops = phases.take().flatMap(PlanPhases.operators)
      assert(!ops.contains("Expand"), ops)
      assert(ops.contains("ObjectHashAggregate"), ops)
      val bound = buffers + 16384.0
      assert(c("shuffle_write_bytes") < bound, s"shuffle ${c("shuffle_write_bytes")} vs bound $bound")
      assert(rows === reference(df, cols).collect().toSeq)
      // the countDistinct plan writes each task's distinct values instead
      val old = SparkCounters.during(spark.sparkContext)(reference(df, cols).collect())
      info(s"shuffle write: ${c("shuffle_write_bytes")} bytes over ${c("tasks")} tasks, " +
        s"task buffers $buffers bytes, countDistinct plan ${old("shuffle_write_bytes")} bytes")
      assert(old("shuffle_write_bytes") > 10 * bound)
    } finally spark.listenerManager.unregister(phases)
  }

  test("string columns still plan through Spark's distinct rewrite, same answer") {
    val df = spark.range(0, 5000, 1, 4).select(
      (col("id") % 37).cast("string").as("a"), (col("id") % 11).cast("string").as("b"))
    val phases = PlanPhases.install(spark)
    try {
      val rows = Profile.profile(df, Seq("a", "b")).collect().toSeq
      assert(phases.take().flatMap(PlanPhases.operators).contains("Expand"))
      assert(rows === reference(df, Seq("a", "b")).collect().toSeq)
    } finally spark.listenerManager.unregister(phases)
  }

  test("serialized buffer: 10^6 dense and 10^6 random bigints") {
    val agg = ExactDistinctAgg(BoundReference(0, LongType, nullable = true))
    def bytes(vs: Iterator[Long]): Int = {
      val buf = agg.createAggregationBuffer()
      vs.foreach(v => agg.update(buf, InternalRow(v)))
      assert(agg.eval(buf) === 1000000L)
      agg.serialize(buf).length
    }
    val rnd = new scala.util.Random(11)
    val dense = bytes(Iterator.range(0, 1000000).map(_.toLong))
    val everyOther = bytes(Iterator.range(0, 1000000).map(_ * 2L))
    val random32 = bytes(Iterator.continually(rnd.nextInt() & 0xffffffffL).distinct.take(1000000))
    val random64 = bytes(Iterator.continually(rnd.nextLong()).distinct.take(1000000))
    info(s"bytes for 10^6 values: contiguous $dense, every other $everyOther, " +
      s"random in [0, 2^32) $random32, random 64-bit $random64")
    // 1 bit per slot of each 2^16 block touched, 2 bytes per value when
    // sparse, plus a few bytes per block
    assert(everyOther <= 31 * (8192 + 16))
    assert(random32 <= 2 * 1000000 + 16 * 65536)
  }

  // ---- per-file partials over a CSV directory ----

  private val csvCols = Seq("i", "l", "d", "ts")
  private val csvSchemas = Seq("i INT, l BIGINT, d DATE, ts TIMESTAMP",
    "i BIGINT, l BIGINT, d DATE, ts TIMESTAMP")

  /** A value of `column`: every value of a column has one width, so a
    * rewrite that keeps the nulls keeps the file's size.
    */
  private def csvValue(r: scala.util.Random, column: Int): String = column match {
    case 0 => (100 + r.nextInt(900)).toString
    case 1 => (1000000 + r.nextInt(9000000)).toString
    case 2 => f"20${r.nextInt(100)}%02d-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d"
    case _ => f"2024-03-${1 + r.nextInt(28)}%02d ${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:00"
  }
  /** Fields of one CSV row, None for an empty (null) field. */
  private def csvRow(r: scala.util.Random, allNull: Boolean): Seq[Option[String]] =
    csvCols.indices.map(i => if (allNull || r.nextInt(6) == 0) None else Some(csvValue(r, i)))

  /** A directory of CSV files the property rewrites between profiles. */
  private final class CsvDir(val dir: java.nio.file.Path, seed: Long) {
    private val r = new scala.util.Random(seed)
    var sep = ","
    var schema = csvSchemas.head
    private var rows = Map.empty[String, Seq[Seq[Option[String]]]]
    private var next = 0

    def names: Seq[String] = rows.keys.toSeq.sorted
    private def write(name: String): Unit = {
      val text = (csvCols +: rows(name).map(_.map(_.getOrElse(""))))
        .map(_.mkString(sep) + "\n").mkString
      java.nio.file.Files.writeString(dir.resolve(name), text)
    }
    def add(allNull: Boolean = false): Unit = {
      val name = f"f$next%02d.csv"; next += 1
      rows += name -> Seq.fill(1 + r.nextInt(30))(csvRow(r, allNull)); write(name)
    }
    def remove(name: String): Unit = { rows -= name; java.nio.file.Files.delete(dir.resolve(name)) }
    def rewrite(name: String): Unit = {
      rows += name -> Seq.fill(1 + r.nextInt(30))(csvRow(r, allNull = false)); write(name)
    }
    /** New values under the same nulls, and the old mtime set back. */
    def rewriteSameSize(name: String): Unit = {
      val p = dir.resolve(name)
      val (size, mtime) = (java.nio.file.Files.size(p), java.nio.file.Files.getLastModifiedTime(p))
      rows += name -> rows(name).map(_.zipWithIndex.map { case (v, i) => v.map(_ => csvValue(r, i)) })
      write(name)
      assert(java.nio.file.Files.size(p) === size)
      java.nio.file.Files.setLastModifiedTime(p, mtime)
    }
    def respell(newSep: String): Unit = { sep = newSep; names.foreach(write) }
    def append(name: String): Unit = {
      rows += name -> (rows(name) ++ Seq.fill(5)(csvRow(r, allNull = false))); write(name)
    }

    def frame: DataFrame = spark.read.option("header", "true").option("sep", sep)
      .schema(schema).csv(dir.toString)
  }

  /** `Profile.profile` over the directory equals the single aggregation. */
  private def matches(d: CsvDir): Boolean = {
    val got = Profile.profile(d.frame, csvCols)
    val want = reference(d.frame, csvCols)
    got.schema == want.schema && got.collect().toSeq == want.collect().toSeq
  }

  private def servedAndBuilt(d: CsvDir, names: Seq[String]): (Int, Int) = {
    val o = names.map(n => BuildCache.outcome("profile-part", d.dir.resolve(n).toString))
    (o.map(_._1).sum, o.map(_._2).sum)
  }

  private final case class Step(name: String, run: CsvDir => Unit) {
    override def toString: String = name
  }

  private val step: Gen[Step] = Gen.oneOf(
    Step("rewrite", d => d.names.headOption.foreach(d.rewrite)),
    Step("same-size rewrite", d => d.names.lastOption.foreach(d.rewriteSameSize)),
    Step("add", d => d.add()),
    Step("add all-null", d => d.add(allNull = true)),
    Step("remove", d => d.names.headOption.foreach(d.remove)),
    Step("remove all", d => d.names.foreach(d.remove)),
    Step("sep", d => d.respell(if (d.sep == ",") ";" else ",")),
    Step("schema", d => d.schema = csvSchemas.filterNot(_ == d.schema).head),
    Step("time zone", _ => spark.conf.set("spark.sql.session.timeZone",
      if (spark.conf.get("spark.sql.session.timeZone") == "UTC") "America/Los_Angeles" else "UTC")))

  test("per-file profile equals the single aggregation over random file changes") {
    assume(java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix"))
    var seen = Seq.empty[(CsvDir, Seq[String])]
    val prop = Prop.forAllNoShrink(Gen.listOfN(6, step), Gen.choose(0L, Long.MaxValue)) { (steps, seed) =>
      val d = new CsvDir(SparkTestSession.tempDir("profcsv"), seed)
      try {
        (0 until 3).foreach(_ => d.add())
        Thread.sleep(2200) // out of the racy window: these partials publish
        val ok = matches(d) && steps.forall { s => s.run(d); matches(d) }
        seen :+= d -> (0 until 10).map(k => f"f$k%02d.csv")
        ok
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(5), prop)
    assert(result.passed, Pretty.pretty(result))
    val (served, built) = seen.map { case (d, ns) => servedAndBuilt(d, ns) }
      .foldLeft((0, 0)) { case ((a, b), (c, e)) => (a + c, b + e) }
    info(s"partials: $served served, $built built")
    assert(served > 0 && built > 0)
  }

  test("a file rewritten inside the racy window is never served a stale partial") {
    assume(java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix"))
    val d = new CsvDir(SparkTestSession.tempDir("profracy"), 7)
    d.add(); d.add()
    val Seq(a, b) = d.names
    assert(matches(d))
    assert(servedAndBuilt(d, Seq(a, b)) === (0, 2))
    // written just now: used once, never published
    d.rewriteSameSize(a)
    assert(matches(d))
    assert(servedAndBuilt(d, Seq(a, b)) === (0, 4))
    Thread.sleep(2200)
    assert(matches(d))
    assert(matches(d))
    assert(servedAndBuilt(d, Seq(a, b)) === (2, 6))
    // a published partial is keyed by its file's ctime
    d.rewriteSameSize(b)
    assert(matches(d))
    assert(servedAndBuilt(d, Seq(a, b)) === (3, 7))
  }

  test("a frame listed before its file grew publishes no partial of that file") {
    assume(java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix"))
    val d = new CsvDir(SparkTestSession.tempDir("proflisted"), 11)
    d.add(); d.add()
    val Seq(a, b) = d.names
    val listed = d.frame
    d.append(b)
    Thread.sleep(2200) // out of the racy window: only the listing differs
    assert(Profile.profile(listed, csvCols).collect().toSeq ===
      reference(listed, csvCols).collect().toSeq)
    // b, as listed, is read once and keyed by nothing
    assert(servedAndBuilt(d, Seq(a, b)) === (0, 1))
    assert(matches(d))
    assert(servedAndBuilt(d, Seq(a, b)) === (1, 2))
    assert(matches(d))
    assert(servedAndBuilt(d, Seq(a, b)) === (3, 2))
  }

  test("a listed file that is gone is left to the scan") {
    val d = new CsvDir(SparkTestSession.tempDir("profgone"), 13)
    d.add(); d.add()
    val listed = d.frame
    d.remove(d.names.head)
    spark.conf.set("spark.sql.files.ignoreMissingFiles", "true")
    try assert(Profile.profile(listed, csvCols).collect().toSeq ===
      reference(listed, csvCols).collect().toSeq)
    finally spark.conf.unset("spark.sql.files.ignoreMissingFiles")
  }

  test("non-bitmap or non-bare-scan inputs plan the single aggregation lazily") {
    val d = new CsvDir(SparkTestSession.tempDir("profshape"), 3)
    (0 until 3).foreach(_ => d.add())
    def jobsAtCall(df: DataFrame, cols: Seq[String]): Int =
      SparkCounters.during(spark.sparkContext)(Profile.profile(df, cols))("jobs").toInt
    val strings = spark.read.option("header", "true").csv(d.dir.toString)
    assert(jobsAtCall(d.frame.where(col("i") > 500), csvCols) === 0)
    assert(jobsAtCall(strings, Seq("i")) === 0)
    assert(jobsAtCall(d.frame.select(col("i"), col("l") + 1), Seq("i")) === 0)
    assert(jobsAtCall(d.frame.select("ts", "i"), Seq("i")) > 0)
    assert(Profile.profile(strings, Seq("i")).collect().toSeq ===
      reference(strings, Seq("i")).collect().toSeq)
  }
}
