package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.api.TxTable

/** Merge-on-read deletion vectors (position deletes, the Iceberg-v2
  * shape): a `dv` commit records (file, position) parquet instead of
  * rewriting matched files — O(changed rows) writes — and every read
  * path applies them: the API snapshot read, the V2 table scan behind
  * `format("txtable")` and the catalog, the change feeds, restore,
  * and the copy-on-write rewrites (which materialize and purge them).
  */
class TxDvSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  private def freshTable(n: Int = 100, files: Int = 4): String = {
    val p = java.nio.file.Files.createTempDirectory("txdv").toString + "/t"
    TxTable.overwriteClustered(spark, p,
      (0 until n).map(i => (i.toLong, s"v$i", (i % 10).toLong))
        .toDF("id", "v", "g"), "id", numFiles = files)
    p
  }

  test("deleteWhereDv: O(changed rows) — no data file rewritten") {
    val p = freshTable()
    val before = TxTable.history(spark, p).last
    val v = TxTable.deleteWhereDv(spark, p, col("id") % 10 === 3)
    assert(v === 2L)
    val c = TxTable.history(spark, p).last
    assert(c.action === "dv" && c.op === Some("delete"))
    assert(c.files.isEmpty, "a position delete stages NO data files")
    assert(c.dels.nonEmpty, "the commit records its del files")
    // the head file set is EXACTLY the pre-delete set: zero rewrite
    assert(TxTable.read(spark, p).columns.toSeq === Seq("id", "v", "g"))
    assert(before.files.toSet.subsetOf(
      TxTable.history(spark, p).flatMap(_.files).toSet))
    val got = TxTable.read(spark, p).select("id").collect()
      .map(_.getLong(0)).sorted
    assert(got.toSeq === (0L until 100L).filter(_ % 10 != 3),
      "the deleted rows are gone from the head read")
    // time travel below the dv commit still reads every row
    assert(TxTable.readVersion(spark, p, 1).count() === 100L)
  }

  test("updateWhereDv: positions die, images land, one commit") {
    val p = freshTable()
    TxTable.updateWhereDv(spark, p, col("id") < 5,
      Map("v" -> lit("X"), "g" -> (col("g") + 100L)))
    val c = TxTable.history(spark, p).last
    assert(c.action === "dv" && c.op === Some("update"))
    assert(c.files.nonEmpty && c.dels.nonEmpty)
    val head = TxTable.read(spark, p)
    assert(head.count() === 100L, "update preserves cardinality")
    val updated = head.filter(col("id") < 5).collect()
    assert(updated.forall(r => r.getString(1) == "X" && r.getLong(2) >= 100L))
    assert(head.filter(col("id") >= 5 && col("v") === "X").count() === 0L)
    // unknown column rejects loudly
    intercept[IllegalArgumentException](
      TxTable.updateWhereDv(spark, p, col("id") < 5, Map("nope" -> lit(1))))
  }

  test("dv matching sees LIVE rows only; no-match is a no-op") {
    val p = freshTable()
    TxTable.deleteWhereDv(spark, p, col("id") === 7L)
    val head = TxTable.latestVersion(spark, p)
    // the same predicate again: the row is already dead -> no commit
    assert(TxTable.deleteWhereDv(spark, p, col("id") === 7L) === head)
    assert(TxTable.latestVersion(spark, p) === head)
    // an update of a dead row is likewise a no-op
    assert(TxTable.updateWhereDv(spark, p, col("id") === 7L,
      Map("v" -> lit("Z"))) === head)
  }

  test("V1 format(\"txtable\") and the V2 catalog read DV-applied") {
    val p = freshTable()
    TxTable.deleteWhereDv(spark, p, col("id") >= 90)
    // format("txtable") (the columnar DV scan of the provided TxV2Table)
    val v1 = spark.read.format("txtable").load(p)
    assert(v1.count() === 90L)
    assert(v1.filter(col("id") >= 85).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === (85L to 89L),
      "filters still apply correctly through the DV scan")
    // versionAsOf below the dv commit reads everything, natively
    assert(spark.read.format("txtable").option("versionAsOf", 1)
      .load(p).count() === 100L)
    // V2 catalog (row-based scan branch)
    val w = java.nio.file.Files.createTempDirectory("txdvcat").toString
    spark.conf.set("spark.sql.catalog.gdv", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdv.warehouse", w)
    spark.sql("CREATE TABLE gdv.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gdv.t VALUES (1,'a'),(2,'b'),(3,'c')")
    TxTable.deleteWhereDv(spark, s"$w/t", col("id") === 2L)
    assert(spark.sql("SELECT id FROM gdv.t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // SQL COW UPDATE over the DV-bearing table must not resurrect row 2
    spark.sql("UPDATE gdv.t SET v = 'u' WHERE id = 1")
    assert(spark.sql("SELECT id, v FROM gdv.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((1L, "u"), (3L, "c")),
      "the copy-on-write rewrite read DV-applied rows")
  }

  test("compactSmall materializes and purges position deletes") {
    val p = freshTable()
    TxTable.deleteWhereDv(spark, p, col("id") % 7 === 0)
    TxTable.updateWhereDv(spark, p, col("id") === 1L, Map("v" -> lit("one")))
    val expect = TxTable.read(spark, p).orderBy("id").collect().toSeq
    TxTable.compactSmall(spark, p, minFileBytes = 1L)
    val hfsState = TxTable.history(spark, p).last
    assert(hfsState.op === Some("compactSmall"))
    assert(hfsState.dels.isEmpty,
      "every DV'd file was rewritten: the delete set purged to Nil")
    assert(TxTable.read(spark, p).orderBy("id").collect().toSeq === expect,
      "the purge is content-identical")
    // back to the native parquet plan (count through it as a smoke
    // check)
    assert(spark.read.format("txtable").load(p).count() === expect.size.toLong)
  }

  test("compactSmall rewrites DV'd files regardless of size, carries the rest") {
    // minFileBytes = 1 -> NO file qualifies as small; only the files
    // that actually carry position deletes enter the candidate set, so
    // routine maintenance purges DV debt without rewriting the table
    val p = freshTable(n = 400, files = 4)
    TxTable.deleteWhereDv(spark, p, col("id") < 40) // hits the low file(s)
    val pre = TxTable.snapshotState(spark, p,
      TxTable.latestVersion(spark, p))
    val dvFiles = TxTable.delPositions(spark, p, pre).keySet
    assert(dvFiles.nonEmpty && dvFiles.size < pre.files.size,
      s"the delete touches a strict subset (${dvFiles.size}/${pre.files.size})")
    val expect = TxTable.read(spark, p).orderBy("id").collect().toSeq
    TxTable.compactSmall(spark, p, minFileBytes = 1L)
    val post = TxTable.snapshotState(spark, p,
      TxTable.latestVersion(spark, p))
    assert(post.dels.isEmpty, "the DV debt purged")
    assert((pre.files.toSet -- dvFiles).subsetOf(post.files.toSet),
      "every DV-free file carried by reference")
    assert(dvFiles.forall(f => !post.files.contains(f)),
      "every DV'd file was rewritten (its deletes materialized)")
    assert(TxTable.read(spark, p).orderBy("id").collect().toSeq === expect,
      "content-identical purge")
  }

  test("restore to a DV-bearing version carries its deletes") {
    val p = freshTable()
    TxTable.deleteWhereDv(spark, p, col("id") < 50) // v2: 50 rows live
    TxTable.overwrite(spark, p, Seq((999L, "z", 0L)).toDF("id", "v", "g"))
    TxTable.restore(spark, p, 2)
    assert(TxTable.read(spark, p).count() === 50L,
      "the restored snapshot keeps its position deletes")
  }

  test("change feeds are precise across dv commits") {
    val p = freshTable(n = 20, files = 2)
    TxTable.deleteWhereDv(spark, p, col("id") === 4L)
    // changesRows reconstructs the delete from the del files alone
    val feed = TxTable.changesRows(spark, p, 1, 2)
      .select("id", TxTable.ChangeCol).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(feed.toSeq === Seq((4L, "delete")))
    // an update feeds one delete + one insert
    TxTable.updateWhereDv(spark, p, col("id") === 5L, Map("v" -> lit("U")))
    val feed2 = TxTable.changesRows(spark, p, 2, 3)
      .select("id", "v", TxTable.ChangeCol).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(feed2 === Set((5L, "v5", "delete"), (5L, "U", "insert")))
    // with cdf = true the staged pre/post images serve verbatim
    TxTable.updateWhereDv(spark, p, col("id") === 6L,
      Map("v" -> lit("W")), cdf = true)
    val feed3 = TxTable.changesRows(spark, p, 3, 4)
      .select("v", TxTable.ChangeCol).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(feed3 === Set(("v6", "update_preimage"), ("W", "update_postimage")))
    // the endpoint diff (changes) sees through shared files
    val diff = TxTable.changes(spark, p, 1, 2)
      .select("id", "_change").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(diff.toSeq === Seq((4L, "delete")),
      "a dv window's endpoint diff reports the deleted row")
  }

  test("vacuum keeps del files; expireHistory checkpoint carries dels") {
    val p = freshTable()
    TxTable.deleteWhereDv(spark, p, col("id") < 10)
    assert(TxTable.vacuum(spark, p, olderThanMs = 0L) === 0,
      "del stagings are log-reachable, never vacuumed")
    assert(TxTable.read(spark, p).count() === 90L)
    (1 to 3).foreach(i => TxTable.append(spark, p,
      Seq((1000L + i, "a", 0L)).toDF("id", "v", "g")))
    TxTable.expireHistory(spark, p, keepVersions = 2)
    assert(TxTable.read(spark, p).count() === 93L,
      "the post-expiry fold still applies the dels via the checkpoint")
  }

  test("DVs compose with schema evolution and indexed rewrites") {
    val p = freshTable()
    // widen AFTER some deletes: the del positions reference
    // pre-evolution files, and the evolved read must still apply them
    TxTable.deleteWhereDv(spark, p, col("id") < 10)
    TxTable.evolveAppend(spark, p,
      Seq((200L, "n", 0L, 1.5)).toDF("id", "v", "g", "w"))
    val head = TxTable.read(spark, p)
    assert(head.columns.toSeq === Seq("id", "v", "g", "w"))
    assert(head.count() === 91L, "90 survivors + 1 evolved row")
    assert(head.filter(col("id") < 10).count() === 0L,
      "pre-evolution position deletes apply under the widened schema")
    // a DV update over the evolved shape: images carry the wide schema
    TxTable.updateWhereDv(spark, p, col("id") === 200L,
      Map("w" -> lit(2.5)))
    assert(TxTable.read(spark, p).filter(col("id") === 200L)
      .select("w").collect().head.getDouble(0) === 2.5)
    // a clustered rewrite (optimize) purges and keeps the evolution
    TxTable.optimize(spark, p, Seq("id"), numFiles = 2)
    val opt = TxTable.read(spark, p)
    assert(TxTable.history(spark, p).last.dels.isEmpty)
    assert(opt.count() === 91L && opt.columns.toSeq ===
      Seq("id", "v", "g", "w"))
  }

  test("plan shape: DV scan stays COLUMNAR; purge restores native plan") {
    val w = java.nio.file.Files.createTempDirectory("txdvplan").toString
    spark.conf.set("spark.sql.catalog.gdvp", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdvp.warehouse", w)
    spark.sql("CREATE TABLE gdvp.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gdvp.t VALUES (1,'a'),(2,'b'),(3,'c')")
    def plan(): String = spark.sql("SELECT id FROM gdvp.t WHERE id > 1")
      .queryExecution.executedPlan.toString
    assert(plan().contains("ParquetScan") ||
      plan().toLowerCase.contains("parquet"),
      s"a DV-free table plans Spark's native columnar parquet scan:\n${plan()}")
    TxTable.deleteWhereDv(spark, s"$w/t", col("id") === 2L)
    assert(plan().contains("TxFileScan"),
      s"a DV-bearing snapshot routes through the DV scan:\n${plan()}")
    assert(plan().contains("ColumnarToRow"),
      "the DV scan reads VECTORIZED batches (deletes apply as batch " +
        s"compaction, not a whole-scan row penalty):\n${plan()}")
    TxTable.compactSmall(spark, s"$w/t", minFileBytes = 1L)
    assert(!plan().contains("TxFileScan") &&
      plan().toLowerCase.contains("parquet"),
      s"the purge returns the table to the native plan:\n${plan()}")
  }

  test("columnar DV application is exact across batches, types, nulls") {
    // >4096 rows per file so the vectorized reader emits several
    // batches per partition; deletes land in some batches (compaction)
    // and miss others (zero-copy pass-through), including a contiguous
    // run that empties most of one batch
    val w = java.nio.file.Files.createTempDirectory("txdvcol").toString
    spark.conf.set("spark.sql.catalog.gdcb", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdcb.warehouse", w)
    val n = 20000
    val df = spark.range(0, n).selectExpr(
      "id",
      "CASE WHEN id % 11 = 0 THEN NULL ELSE concat('s', id) END AS s",
      "CAST(id AS DOUBLE) / 7 AS d",
      "CAST(id % 97 AS DECIMAL(9,2)) * 1.5 AS m",
      "DATE_ADD(DATE'2020-01-01', CAST(id % 365 AS INT)) AS dt",
      "id % 3 = 0 AS b")
    TxTable.overwriteClustered(spark, s"$w/t", df, "id", numFiles = 3)
    TxTable.deleteWhereDv(spark, s"$w/t",
      col("id") % 7 === 2 || (col("id") >= 5000 && col("id") < 9000))
    val live = (0L until n.toLong)
      .filterNot(i => i % 7 == 2 || (i >= 5000 && i < 9000))
    val got = spark.sql(
      "SELECT count(*) AS c, sum(id) AS si, count(s) AS cs, " +
        "sum(d) AS sd, sum(m) AS sm, min(dt) AS mn, sum(CAST(b AS INT)) AS sb " +
        "FROM gdcb.t").collect().head
    assert(got.getLong(0) === live.size.toLong, "cardinality")
    assert(got.getLong(1) === live.sum, "long column exact")
    assert(got.getLong(2) === live.count(_ % 11 != 0),
      "null map survives compaction")
    assert(math.abs(got.getDouble(3) - live.map(_.toDouble / 7).sum) < 1e-6)
    assert(got.getDecimal(4) != null, "decimal column reads")
    assert(got.getLong(6) === live.count(_ % 3 == 0), "boolean column exact")
    // row-identity check, not just aggregates: the survivors are
    // EXACTLY the expected ids (a misaligned position walk would shift
    // which rows die)
    val ids = spark.sql("SELECT id FROM gdcb.t").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(ids === live, "survivor identity across all batches")
  }

  test("columnar DV application is exact under file SPLITS") {
    // the split-parallel branch: positions are anchored per split from
    // the parquet footer (the reader's midpoint row-group rule), so a
    // file read as SEVERAL tasks must still drop exactly the recorded
    // positions. Force splitting with a tiny maxPartitionBytes and
    // multiple row groups per file (small parquet block size).
    val w = java.nio.file.Files.createTempDirectory("txdvsp").toString
    spark.conf.set("spark.sql.catalog.gspl", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gspl.warehouse", w)
    val prevBlock = spark.conf.getOption("spark.hadoop.parquet.block.size")
    spark.conf.set("spark.hadoop.parquet.block.size", "65536")
    try {
      val n = 200000L
      TxTable.overwriteClustered(spark, s"$w/t",
        spark.range(n).selectExpr("id", "concat('v', id) AS v"),
        "id", numFiles = 2)
      TxTable.deleteWhereDv(spark, s"$w/t",
        col("id") % 1009 === 0 || (col("id") >= 40000 && col("id") < 41000))
      val live = (0L until n).filterNot(i =>
        i % 1009 == 0 || (i >= 40000 && i < 41000))
      val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
      spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
      try {
        val df = spark.sql("SELECT id FROM gspl.t")
        val parts = df.rdd.getNumPartitions
        assert(parts > 4,
          s"the scan must actually split the 2 files (got $parts partitions)")
        assert(df.queryExecution.executedPlan.toString
          .contains("ColumnarToRow"), "and stay columnar under splits")
        val ids = df.collect().map(_.getLong(0)).sorted.toSeq
        assert(ids === live, "survivor identity exact across all splits")
      } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
    } finally prevBlock match {
      case Some(v) => spark.conf.set("spark.hadoop.parquet.block.size", v)
      case None => spark.conf.unset("spark.hadoop.parquet.block.size")
    }
  }

  test("selective reads on a DV-bearing snapshot keep row-group pushdown") {
    // r19 verdict item 1: DV application keys on the reader's
    // row-index column, so pushed filters reach parquet itself —
    // a point predicate on the cluster key must SKIP row groups
    // (scan output far below table cardinality), not scan whole
    // candidate files until maintenance purges
    val w = java.nio.file.Files.createTempDirectory("txdvsel").toString
    spark.conf.set("spark.sql.catalog.gsel", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gsel.warehouse", w)
    val prevBlock = spark.conf.getOption("spark.hadoop.parquet.block.size")
    spark.conf.set("spark.hadoop.parquet.block.size", "65536")
    try {
      val n = 200000L
      TxTable.overwriteClustered(spark, s"$w/t",
        spark.range(n).selectExpr("id", "concat('v', id) AS v"),
        "id", numFiles = 2)
      TxTable.deleteWhereDv(spark, s"$w/t", col("id") % 1009 === 0)
      val df = spark.sql("SELECT id, v FROM gsel.t WHERE id = 123456")
      val planStr = df.queryExecution.executedPlan.toString
      assert(planStr.contains("TxFileScan") &&
        planStr.contains("PushedFilters: [") &&
        planStr.contains("EqualTo(id,123456)"),
        s"the DV scan surfaces its pushed filters:\n$planStr")
      assert(df.collect().map(_.getLong(0)).toSeq === Seq(123456L))
      val scan = df.queryExecution.executedPlan.collectLeaves()
        .find(_.nodeName.toLowerCase.contains("batchscan"))
        .getOrElse(fail(s"no BatchScan leaf in:\n$planStr"))
      val out = scan.metrics("numOutputRows").value
      assert(out > 0 && out < n / 4,
        s"parquet row-group skipping pruned inside files: the scan " +
          s"emitted $out of $n rows (whole-file reads would emit ~$n)")
      // deleted rows stay deleted under pushdown (1009*8=8072)
      assert(spark.sql("SELECT * FROM gsel.t WHERE id = 8072").collect()
        .isEmpty, "a selective read cannot resurrect a deleted row")
      // a selective range OVERLAPPING deletes is exact
      val got = spark.sql(
        "SELECT id FROM gsel.t WHERE id >= 2010 AND id < 2030")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(got === (2010L until 2030L).filterNot(_ % 1009 == 0),
        "survivor identity under a pushed range predicate")
    } finally prevBlock match {
      case Some(v) => spark.conf.set("spark.hadoop.parquet.block.size", v)
      case None => spark.conf.unset("spark.hadoop.parquet.block.size")
    }
  }

  test("a small DV-bearing snapshot still broadcasts in joins") {
    // the DV scan reports candidate bytes (SupportsReportStatistics);
    // without it the engine assumes worst-case size and a join against
    // a tiny DV'd dimension degrades to a shuffle join
    val w = java.nio.file.Files.createTempDirectory("txdvbc").toString
    spark.conf.set("spark.sql.catalog.gbc", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gbc.warehouse", w)
    spark.sql("CREATE TABLE gbc.dim (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gbc.dim SELECT id, concat('d', id) FROM range(100)")
    TxTable.deleteWhereDv(spark, s"$w/dim", col("id") === 7L)
    spark.range(100000).createOrReplaceTempView("bc_fact")
    val plan = spark.sql(
      "SELECT count(f.id) FROM bc_fact f JOIN gbc.dim d ON f.id = d.id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"the DV'd 100-row dimension must broadcast:\n$plan")
  }

  test("row-branch splits: delta UPDATE and COW rewrite stay exact") {
    // the rewrite/delta scans now SPLIT large files too — a delta
    // UPDATE's (file, pos) row ids must anchor exactly per split (a
    // misanchored split would position-delete the WRONG rows), and the
    // group-based COW rewrite must restage every surviving row once
    // across its splits. Force small row groups + tiny splits.
    val w = java.nio.file.Files.createTempDirectory("txdvrs").toString
    spark.conf.set("spark.sql.catalog.grsp", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.grsp.warehouse", w)
    spark.conf.set("spark.sql.catalog.grsp.dv_dml", "true")
    val prevBlock = spark.conf.getOption("spark.hadoop.parquet.block.size")
    spark.conf.set("spark.hadoop.parquet.block.size", "65536")
    val prevMax = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      val n = 150000L
      TxTable.overwriteClustered(spark, s"$w/t",
        spark.range(n).selectExpr("id", "concat('v', id) AS v"),
        "id", numFiles = 2)
      spark.conf.set("spark.sql.files.maxPartitionBytes", "131072")
      // delta UPDATE: matched rows spread across many splits
      spark.sql("UPDATE grsp.t SET v = concat(v, '!') WHERE id % 1000 = 7")
      val c = TxTable.history(spark, s"$w/t").last
      assert(c.action === "dv" && c.op === Some("update"))
      val got = spark.sql("SELECT id, v FROM grsp.t ORDER BY id").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      assert(got.length === n,
        "cardinality preserved across split-anchored position deletes")
      assert(got.forall { case (i, s) =>
        s == (if (i % 1000 == 7) s"v$i!" else s"v$i") },
        "EXACTLY the matched rows updated — no misanchored position")
      // then an unparseable COW-style DELETE (also the delta route
      // here) composes on top of the earlier dv commit's deletes
      spark.sql("DELETE FROM grsp.t WHERE id % 777 = 3")
      val live = (0L until n).filterNot(_ % 777 == 3)
      assert(spark.sql("SELECT count(*) FROM grsp.t").collect()
        .head.getLong(0) === live.size.toLong)
      assert(spark.sql("SELECT count(*) FROM grsp.t WHERE id % 1000 = 7 " +
        "AND v NOT LIKE '%!'").collect().head.getLong(0) === 0L,
        "the first statement's updates survive the second")
    } finally {
      spark.conf.set("spark.sql.files.maxPartitionBytes", prevMax)
      prevBlock match {
        case Some(v) => spark.conf.set("spark.hadoop.parquet.block.size", v)
        case None => spark.conf.unset("spark.hadoop.parquet.block.size")
      }
    }
  }

  test("DV driver-collect guard: over-cap fails naming the purge verb") {
    val w = java.nio.file.Files.createTempDirectory("txdvcap").toString
    spark.conf.set("spark.sql.catalog.gcap", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gcap.warehouse", w)
    spark.sql("CREATE TABLE gcap.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gcap.t SELECT id, concat('v', id) " +
      "FROM range(2000)")
    TxTable.deleteWhereDv(spark, s"$w/t", col("id") % 3 === 0)
    spark.conf.set(TxTable.DvMaxDriverBytesConf, "1")
    try {
      val e = intercept[Exception](
        spark.sql("SELECT count(*) FROM gcap.t").collect())
      def chain(t: Throwable): Seq[Throwable] =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
      assert(chain(e).exists(c =>
        c.getMessage != null && c.getMessage.contains("compact_small")),
        s"the guard names the purge step: $e")
      // the API read path applies dels as a DISTRIBUTED anti-join and
      // never collects them — it stays correct above the cap
      assert(TxTable.read(spark, s"$w/t").count() === 1333L,
        "the API snapshot read is unaffected by the driver cap")
      // maintenance purges the backlog; SQL reads work again
      TxTable.compactSmall(spark, s"$w/t", minFileBytes = 1L)
      assert(spark.sql("SELECT count(*) FROM gcap.t").collect()
        .head.getLong(0) === 1333L, "post-purge SQL reads recover")
    } finally spark.conf.unset(TxTable.DvMaxDriverBytesConf)
  }

  test("dv_dml catalog option: SQL DELETE lands as a position delete") {
    val w = java.nio.file.Files.createTempDirectory("txdvsql").toString
    spark.conf.set("spark.sql.catalog.gdml", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdml.warehouse", w)
    spark.conf.set("spark.sql.catalog.gdml.dv_dml", "true")
    spark.sql("CREATE TABLE gdml.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gdml.t VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
    spark.sql("DELETE FROM gdml.t WHERE id IN (2, 4)")
    val c = TxTable.history(spark, s"$w/t").last
    assert(c.action === "dv" && c.files.isEmpty && c.dels.nonEmpty,
      "SQL DELETE under dv_dml is one position-delete commit, " +
        s"no data rewrite: ${c.action}/${c.op}")
    assert(spark.sql("SELECT id FROM gdml.t ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L))
    // the default catalog keeps the copy-on-write file-level delete
    val w2 = java.nio.file.Files.createTempDirectory("txdvsql2").toString
    spark.conf.set("spark.sql.catalog.gcow", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gcow.warehouse", w2)
    spark.sql("CREATE TABLE gcow.t (id BIGINT)")
    spark.sql("INSERT INTO gcow.t VALUES (1), (2)")
    spark.sql("DELETE FROM gcow.t WHERE id = 2")
    assert(TxTable.history(spark, s"$w2/t").last.action === "overwrite",
      "without the option, DELETE stays the file-level rewrite")
  }

  test("dv_dml: SQL UPDATE plans the DELTA op — one merge-on-read commit") {
    val w = java.nio.file.Files.createTempDirectory("txdvup").toString
    spark.conf.set("spark.sql.catalog.gdup", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdup.warehouse", w)
    spark.conf.set("spark.sql.catalog.gdup.dv_dml", "true")
    spark.sql("CREATE TABLE gdup.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gdup.t SELECT id, concat('v', id) FROM range(1000)")
    val preFiles = TxTable.snapshotState(spark, s"$w/t",
      TxTable.latestVersion(spark, s"$w/t")).files.toSet
    spark.sql("UPDATE gdup.t SET v = concat(v, '!') WHERE id % 100 = 7")
    val c = TxTable.history(spark, s"$w/t").last
    assert(c.action === "dv" && c.op === Some("update"),
      s"SQL UPDATE under dv_dml is ONE position-delta commit: ${c.action}/${c.op}")
    assert(c.dels.nonEmpty && c.files.nonEmpty,
      "the commit stages position deletes + updated images, nothing else")
    val post = TxTable.snapshotState(spark, s"$w/t",
      TxTable.latestVersion(spark, s"$w/t")).files.toSet
    assert(preFiles.subsetOf(post),
      "NO pre-update data file was removed or rewritten (O(changed rows))")
    val got = spark.sql("SELECT id, v FROM gdup.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === 1000, "update preserves cardinality")
    assert(got.forall { case (i, s) =>
      s == (if (i % 100 == 7) s"v$i!" else s"v$i") },
      "exactly the matched rows updated")
    // the change feed reconstructs the update as delete+insert pairs
    val v = c.version
    val feed = TxTable.changesRows(spark, s"$w/t", v - 1, v)
      .filter(col("id") === 107L)
      .select("v", TxTable.ChangeCol).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(feed === Set(("v107", "delete"), ("v107!", "insert")))
  }

  test("dv_dml: MERGE INTO lands one dv commit covering all clauses") {
    val w = java.nio.file.Files.createTempDirectory("txdvmg").toString
    spark.conf.set("spark.sql.catalog.gdmg", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdmg.warehouse", w)
    spark.conf.set("spark.sql.catalog.gdmg.dv_dml", "true")
    spark.sql("CREATE TABLE gdmg.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gdmg.t SELECT id, concat('v', id) FROM range(100)")
    Seq((50L, "U"), (75L, "U"), (200L, "N"), (30L, "D"))
      .toDF("id", "nv").createOrReplaceTempView("mg_src")
    spark.sql(
      """MERGE INTO gdmg.t AS t USING mg_src AS s ON t.id = s.id
        |WHEN MATCHED AND s.nv = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)
        |""".stripMargin)
    val c = TxTable.history(spark, s"$w/t").last
    assert(c.action === "dv" && c.op === Some("merge"),
      s"MERGE under dv_dml is ONE position-delta commit: ${c.action}/${c.op}")
    val got = spark.sql("SELECT id, v FROM gdmg.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got.size === 100, "100 - 1 delete + 1 insert")
    assert(!got.contains(30L) && got(50L) == "U" && got(75L) == "U" &&
      got(200L) == "N" && got(0L) == "v0")
    // a second merge-on-read statement over the SAME files composes
    // (its scan applies the earlier dv commit's deletes first)
    spark.sql("UPDATE gdmg.t SET v = 'X' WHERE id = 50")
    assert(spark.sql("SELECT v FROM gdmg.t WHERE id = 50").collect()
      .map(_.getString(0)).toSeq === Seq("X"))
    assert(spark.sql("SELECT count(*) FROM gdmg.t WHERE id = 30").collect()
      .head.getLong(0) === 0L, "the deleted row stays dead")
    // maintenance purges the accumulated deltas content-identically
    val expect = spark.sql("SELECT id, v FROM gdmg.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    spark.sql("CALL gdmg.system.compact_small(table => 't', " +
      "min_file_bytes => 1)")
    assert(TxTable.history(spark, s"$w/t").last.dels.isEmpty)
    assert(spark.sql("SELECT id, v FROM gdmg.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === expect)
  }

  test("_file/_pos provenance columns stay queryable and DV-exact") {
    val w = java.nio.file.Files.createTempDirectory("txdvpv").toString
    spark.conf.set("spark.sql.catalog.gpv", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gpv.warehouse", w)
    spark.sql("CREATE TABLE gpv.t (id BIGINT)")
    spark.sql("INSERT INTO gpv.t SELECT id FROM range(10)")
    val before = spark.sql("SELECT id, _file, _pos FROM gpv.t ORDER BY id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(before.size === 10 &&
      before.values.toSet.size === 10,
      "(file, pos) is a distinct durable id per row — positions are " +
        "PER FILE, so only the pair is unique")
    TxTable.deleteWhereDv(spark, s"$w/t", col("id") === 3L)
    val after = spark.sql("SELECT id, _file, _pos FROM gpv.t ORDER BY id")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
      .toMap
    assert(!after.contains(3L) && after.size === 9)
    assert(after.forall { case (id, fp) => before(id) == fp },
      "survivors keep their ORIGINAL (file, position) ids " +
        "(no post-delete renumber)")
    // _file provenance rides along on the same row-based route
    assert(spark.sql("SELECT DISTINCT _file FROM gpv.t").collect()
      .forall(_.getString(0).contains("data-")))
  }

  test("dv_dml delta DML composes with schema evolution") {
    val w = java.nio.file.Files.createTempDirectory("txdvev").toString
    spark.conf.set("spark.sql.catalog.gdev", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdev.warehouse", w)
    spark.conf.set("spark.sql.catalog.gdev.dv_dml", "true")
    spark.sql("CREATE TABLE gdev.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gdev.t SELECT id, concat('v', id) FROM range(50)")
    spark.sql("ALTER TABLE gdev.t ADD COLUMN w DOUBLE")
    // a delta UPDATE over the widened shape: images carry the wide
    // schema, pre-evolution files' rows null-fill w on the scan
    spark.sql("UPDATE gdev.t SET w = 1.5 WHERE id < 5")
    val c = TxTable.history(spark, s"$w/t").last
    assert(c.action === "dv" && c.op === Some("update"))
    val got = spark.sql("SELECT id, v, w FROM gdev.t ORDER BY id").collect()
    assert(got.length === 50)
    assert(got.take(5).forall(r => r.getDouble(2) === 1.5 &&
      r.getString(1) == s"v${r.getLong(0)}"),
      "updated images carry the widened schema with untouched columns intact")
    assert(got.drop(5).forall(_.isNullAt(2)),
      "unmatched pre-evolution rows null-fill the evolved column")
  }

  test("dv_dml MERGE handles NOT MATCHED BY SOURCE clauses") {
    val w = java.nio.file.Files.createTempDirectory("txdvnbs").toString
    spark.conf.set("spark.sql.catalog.gnbs", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gnbs.warehouse", w)
    spark.conf.set("spark.sql.catalog.gnbs.dv_dml", "true")
    spark.sql("CREATE TABLE gnbs.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gnbs.t VALUES (1,'a'),(2,'b'),(3,'c'),(4,'d')")
    Seq((2L, "B"), (9L, "I")).toDF("id", "nv")
      .createOrReplaceTempView("nbs_src")
    spark.sql(
      """MERGE INTO gnbs.t AS t USING nbs_src AS s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.nv)
        |WHEN NOT MATCHED BY SOURCE AND t.id > 3 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = concat(v, '?')
        |""".stripMargin)
    val c = TxTable.history(spark, s"$w/t").last
    assert(c.action === "dv" && c.op === Some("merge"),
      s"all four clauses land in ONE dv commit: ${c.action}/${c.op}")
    val got = spark.sql("SELECT id, v FROM gnbs.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a?"), (2L, "B"), (3L, "c?"), (9L, "I")),
      "matched-update, insert, by-source delete and by-source update all exact")
  }

  test("racing DV deletes + appends: claim-exactly serializes, nothing lost") {
    // the conflict story position deletes must keep: positions are
    // derived from an OBSERVED head and claimed at exactly head+1, so
    // a dv commit computed against files an interleaved commit moved
    // can never land — it loses the claim and re-derives. Four DV
    // deletes on disjoint slices race four appends; the final state
    // must be the set algebra, every row exactly once.
    val p = freshTable(n = 400, files = 8)
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val dels = (0 until 4).map(k => Future {
        TxTable.deleteWhereDv(spark, p,
          col("id") % 8 === k && col("id") < 400)
      })
      val apps = (0 until 4).map(k => Future {
        TxTable.append(spark, p,
          Seq((1000L + k, s"new$k", 0L)).toDF("id", "v", "g"))
      })
      Await.result(Future.sequence(dels ++ apps), 180.seconds)
    } finally pool.shutdown()
    val ids = TxTable.read(spark, p).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    val expect = ((0L until 400L).filter(_ % 8 >= 4) ++
      (1000L to 1003L)).sorted
    assert(ids === expect,
      s"racing DV deletes and appends serialized exactly: " +
        s"got ${ids.size} rows, expected ${expect.size}")
    assert(TxTable.latestVersion(spark, p) === 9L,
      "9 commits: create + 4 dv deletes + 4 appends")
  }

  test("dv image files land with fresh skipping stats on clustered heads") {
    val w = java.nio.file.Files.createTempDirectory("txdvst").toString
    spark.conf.set("spark.sql.catalog.gdst", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdst.warehouse", w)
    spark.conf.set("spark.sql.catalog.gdst.dv_dml", "true")
    val p = s"$w/t"
    TxTable.overwriteClustered(spark, p,
      spark.range(4000).selectExpr("id", "concat('v', id) AS v"),
      "id", numFiles = 8)
    spark.sql("UPDATE gdst.t SET v = 'X' WHERE id BETWEEN 100 AND 120")
    TxTable.updateWhereDv(spark, p, col("id") === 3000L,
      Map("v" -> lit("Y")))
    val st = TxTable.snapshotState(spark, p, TxTable.latestVersion(spark, p))
    assert(st.files.forall(st.stats.contains),
      "EVERY live file — base and merge-on-read images — carries " +
        s"range stats: missing ${st.files.filterNot(st.stats.contains)}")
    // and the ranges are right: a point read through the API prunes
    // while still finding the moved row
    val hit = TxTable.readRange(spark, p, "id", 3000L, 3000L)
      .collect().map(_.getString(1))
    assert(hit.toSeq === Seq("Y"),
      "the image file's fresh stats still admit its rows")
  }

  test("delta DML races: a dv commit on a referenced file conflicts; an append commutes") {
    val w = java.nio.file.Files.createTempDirectory("txdvdr").toString
    spark.conf.set("spark.sql.catalog.gddr", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gddr.warehouse", w)
    spark.conf.set("spark.sql.catalog.gddr.dv_dml", "true")
    spark.sql("CREATE TABLE gddr.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gddr.t SELECT id, concat('v', id) FROM range(100)")
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    // 1. an interleaved dv DELETE of a row in the UPDATE's scanned
    // file: the UPDATE's positions were derived pre-delete, so the
    // claim must abort (it could otherwise update — resurrect — the
    // concurrently-deleted row)
    @volatile var fired = false
    TxTable.deltaRaceInjection = () => if (!fired) {
      fired = true
      TxTable.deleteWhereDv(spark, s"$w/t", col("id") === 10L)
    }
    val e = try intercept[Exception](
      spark.sql("UPDATE gddr.t SET v = 'X' WHERE id < 20"))
    finally TxTable.deltaRaceInjection = () => ()
    assert(fired)
    assert(chain(e).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"the delta claim aborts as a conflict: $e")
    val got = spark.sql("SELECT id, v FROM gddr.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length === 99 && !got.exists(_._1 == 10L) &&
      got.forall { case (i, s) => s == s"v$i" },
      "the interleaved delete held; the aborted UPDATE changed nothing")
    // 2. an interleaved APPEND shares no referenced file — it must
    // commute, both effects landing
    @volatile var fired2 = false
    TxTable.deltaRaceInjection = () => if (!fired2) {
      fired2 = true
      import spark.implicits._
      TxTable.append(spark, s"$w/t",
        Seq((999L, "raced")).toDF("id", "v"))
    }
    try spark.sql("UPDATE gddr.t SET v = 'Y' WHERE id < 5")
    finally TxTable.deltaRaceInjection = () => ()
    assert(fired2)
    val got2 = spark.sql("SELECT id, v FROM gddr.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got2(999L) == "raced" && (0L until 5L).forall(got2(_) == "Y") &&
      got2.size === 100,
      "append and delta UPDATE both landed exactly once")
  }

  test("a DV commit interleaved into a COW rewrite's window conflicts") {
    // the lost-update hole: a position-delete commit adds del rows
    // WITHOUT removing files, so the "scanned files still live" rule
    // alone would admit it — and the rewrite (computed from the
    // PRE-dv scan) would silently resurrect the deleted rows. The
    // conflict checker must treat a DV change on a scanned file as a
    // conflict (Delta's rule), aborting the statement atomically.
    val w = java.nio.file.Files.createTempDirectory("txdvcf").toString
    spark.conf.set("spark.sql.catalog.gdvc", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdvc.warehouse", w)
    spark.sql("CREATE TABLE gdvc.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO gdvc.t VALUES (1,'a'),(2,'b'),(3,'c')")
    @volatile var fired = false
    TxTable.replaceRaceInjection = () => if (!fired) {
      fired = true
      TxTable.deleteWhereDv(spark, s"$w/t", col("id") === 2L)
    }
    val e = try intercept[Exception](
      spark.sql("UPDATE gdvc.t SET v = 'X' WHERE id <= 3"))
    finally TxTable.replaceRaceInjection = () => ()
    assert(fired, "the dv commit landed inside the claim window")
    def chain(t: Throwable): Seq[Throwable] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(10).toSeq
    assert(chain(e).exists(
      _.isInstanceOf[java.util.ConcurrentModificationException]),
      s"the claim aborts as a conflict, got: $e")
    val got = spark.sql("SELECT id, v FROM gdvc.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got === Seq((1L, "a"), (3L, "c")),
      "the interleaved delete held; the aborted UPDATE changed nothing")
  }

  test("__graft_-prefixed column names are reserved") {
    val w = java.nio.file.Files.createTempDirectory("txdvres").toString
    spark.conf.set("spark.sql.catalog.gdvr", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdvr.warehouse", w)
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE gdvr.t (id BIGINT, __graft_dv_f STRING)"))
    assert(e.getMessage.contains("__graft_"),
      s"CREATE names the reserved prefix: ${e.getMessage}")
    // V1-route tables never pass catalog validation; the DV verbs
    // themselves must fail loudly instead of silently shadowing the
    // user column on the provenance read
    val p = java.nio.file.Files.createTempDirectory("txdvres2").toString + "/t"
    TxTable.overwrite(spark, p,
      Seq((1L, "x")).toDF("id", "__graft_dv_pos"))
    val e2 = intercept[IllegalArgumentException](
      TxTable.deleteWhereDv(spark, p, col("id") === 1L))
    assert(e2.getMessage.contains("__graft_dv_pos"))
  }

  test("readStream.table applies DVs to the initial snapshot") {
    import org.apache.spark.sql.streaming.Trigger
    val w = java.nio.file.Files.createTempDirectory("txdvstr").toString
    spark.conf.set("spark.sql.catalog.gdvs", "graft.api.TxCatalog")
    spark.conf.set("spark.sql.catalog.gdvs.warehouse", w)
    spark.sql("CREATE TABLE gdvs.s (id BIGINT)")
    spark.sql("INSERT INTO gdvs.s VALUES (1), (2), (3)")
    TxTable.deleteWhereDv(spark, s"$w/s", col("id") === 2L)
    spark.sql("CREATE TABLE gdvs.d (id BIGINT)")
    val ck = java.nio.file.Files.createTempDirectory("txdvck").toString
    val q = spark.readStream.table("gdvs.s")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).toTable("gdvs.d")
    q.awaitTermination()
    assert(spark.sql("SELECT id FROM gdvs.d ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L),
      "the snapshot batch excluded the DV-deleted row")
    // a later dv commit is a change commit: skipChangeCommits governs
    TxTable.deleteWhereDv(spark, s"$w/s", col("id") === 1L)
    spark.sql("INSERT INTO gdvs.s VALUES (9)")
    val q2 = spark.readStream.option("skipChangeCommits", "true")
      .table("gdvs.s")
      .writeStream.option("checkpointLocation", ck)
      .trigger(Trigger.AvailableNow()).toTable("gdvs.d")
    q2.awaitTermination()
    assert(spark.sql("SELECT id FROM gdvs.d ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 3L, 9L))
  }

  /** The executed plan's node class names (no AQE wrapper: these scans
    * carry no exchange). */
  private def planNodes(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.queryExecution.executedPlan.collect { case n => n.getClass.getSimpleName }

  private def mappedDvTable(): String = {
    val p = freshTable()
    TxTable.deleteWhereDv(spark, p, col("id") % 10 === 3) // v2: DVs
    TxTable.renameColumn(spark, p, "v", "w")              // v3: mapped too
    p
  }

  test("format(\"txtable\") reads of DV-bearing and column-mapped snapshots plan a columnar BatchScan") {
    val p = mappedDvTable()
    for (v <- Seq(2L, 3L)) {
      val df = spark.read.format("txtable").option("versionAsOf", v).load(p)
        .filter(col("id") > 5L)
      val nodes = planNodes(df)
      assert(nodes.contains("BatchScanExec") && nodes.contains("ColumnarToRowExec"),
        s"v$v must read vectorized through a BatchScan: $nodes")
      assert(!nodes.exists(n => n.contains("RDDScan") || n.contains("RowDataSourceScan")),
        s"v$v must not fall back to a row-RDD scan: $nodes")
      assert(df.queryExecution.executedPlan.toString.contains("TxFileScan"),
        "the DV / mapping scan serves the snapshot")
    }
  }

  test("format(\"txtable\") equals TxTable.read at head and on each side of the dv commit") {
    val p = mappedDvTable()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    for (v <- 1L to 3L)
      assert(rows(spark.read.format("txtable").option("versionAsOf", v).load(p)) ===
        rows(TxTable.readVersion(spark, p, v)), s"versionAsOf $v")
    val head = spark.read.format("txtable").load(p)
    assert(head.columns.toSeq === Seq("id", "w", "g"))
    assert(rows(head) === rows(TxTable.read(spark, p)))
    assert(rows(head).size === 90, "the dv commit's deletes apply at the head")
    assert(rows(spark.read.format("txtable").option("versionAsOf", 1).load(p)).size === 100)
  }

  test("readStream.table on a USING txtable session table fails loudly at start") {
    val p = freshTable()
    val tbl = "graft_txdv_stream"
    spark.sql(s"DROP TABLE IF EXISTS $tbl")
    spark.sql(s"CREATE TABLE $tbl USING txtable LOCATION '$p'")
    try {
      val ck = java.nio.file.Files.createTempDirectory("txdvsck").toString
      // the provided table declares no MICRO_BATCH_READ (the by-name
      // streaming read is the TxCatalog's), and a session table has no
      // V1 fallback: the query is rejected before it starts
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.readStream.table(tbl).writeStream.format("noop")
          .option("checkpointLocation", ck).start().processAllAvailable()
      }
      assert(e.getMessage.contains("does not support either micro-batch"),
        e.getMessage)
      assert(TxTable.latestVersion(spark, p) === 1L)
    } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
  }

  // ---- reads that plan from the commit log: packed small files and
  // driver-extended position maps ----

  /** A table of 40 small files (25 rows each, ids 0 until 1000, one
    * staging), then a position delete of every id divisible by 7.
    */
  private def fortySmallFiles(p: String): Seq[Long] = {
    TxTable.overwrite(spark, p,
      spark.range(0, 1000, 1, 40).selectExpr("id", "concat('v', id) AS v"))
    assert(TxTable.history(spark, p).last.files.size === 40)
    TxTable.deleteWhereDv(spark, p, col("id") % 7 === 0)
    (0L until 1000L).filter(_ % 7 != 0)
  }

  private def dataFiles(p: String): Seq[String] =
    TxTable.history(spark, p).head.files.map(f => s"$p/$f")

  test("a DV-bearing scan of small files plans as many tasks as the native scan") {
    val p = java.nio.file.Files.createTempDirectory("txdvpk").toString + "/t"
    fortySmallFiles(p)
    val native = spark.read.parquet(dataFiles(p): _*).rdd.getNumPartitions
    val df = spark.read.format("txtable").load(p)
    assert(df.queryExecution.executedPlan.toString.contains("TxFileScan"))
    assert(df.rdd.getNumPartitions === native,
      "small files share tasks under Spark's own packing policy")
    assert(native < 40, s"the native scan packs the 40 files ($native tasks)")
  }

  test("one task reading several files keeps SQL DML and reads exact") {
    def catalog(name: String, dvDml: Boolean): (String, Seq[Long]) = {
      val w = java.nio.file.Files.createTempDirectory(s"txdv$name").toString
      spark.conf.set(s"spark.sql.catalog.$name", "graft.api.TxCatalog")
      spark.conf.set(s"spark.sql.catalog.$name.warehouse", w)
      spark.conf.set(s"spark.sql.catalog.$name.dv_dml", dvDml.toString)
      (s"$w/t", fortySmallFiles(s"$w/t"))
    }
    def read(sql: String): Map[Long, String] = spark.sql(sql).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

    // copy-on-write DELETE (a subquery forces the row-level rewrite)
    // and UPDATE, each over packed DV-bearing splits
    val (cow, live) = catalog("gpkc", dvDml = false)
    var model = live.map(i => i -> s"v$i").toMap
    assert(spark.sql("SELECT id FROM gpkc.t").rdd.getNumPartitions < 40)
    spark.sql("DELETE FROM gpkc.t WHERE id IN " +
      "(SELECT id FROM range(1000) WHERE id % 11 = 5)")
    model = model.filter(_._1 % 11 != 5)
    assert(read("SELECT id, v FROM gpkc.t") === model, "COW DELETE")
    spark.sql("UPDATE gpkc.t SET v = concat(v, '!') WHERE id % 13 = 2")
    model = model.map { case (i, v) => i -> (if (i % 13 == 2) v + "!" else v) }
    assert(read("SELECT id, v FROM gpkc.t") === model, "COW UPDATE")
    assert(spark.read.format("txtable").load(cow).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap === model, "format read")

    // merge-on-read UPDATE: row ids are (_file, _pos) read from packed
    // splits; each split anchors its own positions
    val (mor, live2) = catalog("gpkd", dvDml = true)
    val origin = spark.read.parquet(dataFiles(mor): _*)
      .select(col("id"), col("_metadata.file_path"), col("_metadata.row_index"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    val ids = spark.sql("SELECT id, _file, _pos FROM gpkd.t").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
    assert(ids.length === live2.size)
    ids.filter(_._1 % 5 == 1).foreach { case (i, filePos) =>
      assert(filePos === origin(i), s"_file/_pos of id $i")
    }
    spark.sql("UPDATE gpkd.t SET v = concat(v, '?') WHERE id % 17 = 4")
    assert(TxTable.history(spark, mor).last.action === "dv")
    assert(read("SELECT id, v FROM gpkd.t") === live2.map(i =>
      i -> (if (i % 17 == 4) s"v$i?" else s"v$i")).toMap, "MOR UPDATE")
  }

  test("a DV-bearing read counts its input bytes like the native scan") {
    val p = java.nio.file.Files.createTempDirectory("txdvib").toString + "/t"
    TxTable.overwrite(spark, p, spark.range(0, 200000, 1, 8)
      .selectExpr("id", "concat('v', id) AS v", "id * 3 AS w"))
    val files = dataFiles(p)
    TxTable.deleteWhereDv(spark, p, col("id") % 7 === 0)
    def inputBytes(df: org.apache.spark.sql.DataFrame): Double =
      graft.obs.SparkCounters.during(spark.sparkContext) {
        df.agg(sum("w")).collect(); ()
      }("input_bytes")
    val native = inputBytes(spark.read.parquet(files: _*))
    val dv = inputBytes(spark.read.format("txtable").load(p))
    assert(native > 0 && dv >= 0.9 * native,
      s"input bytes: DV-bearing read $dv, native scan of the same files $native")
  }

  /** The position map as a Spark job computes it — the reference the
    * driver-side read must equal. */
  private def referencePositions(p: String, st: TxTable.State)
      : Map[String, Seq[Long]] =
    if (st.dels.isEmpty) Map.empty
    else TxTable.delRows(spark, p, st).groupBy("f")
      .agg(sort_array(collect_list("pos"))).collect()
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap

  test("delPositions reads on the driver with no Spark job and equals the Spark reference") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.util.Pretty
    sealed trait Op
    case class Append(n: Int) extends Op
    case class Delete(m: Int, r: Int) extends Op
    case class Update(m: Int, r: Int) extends Op
    case object Compact extends Op
    val op: Gen[Op] = Gen.frequency(
      2 -> Gen.choose(1, 40).map(Append),
      3 -> Gen.zip(Gen.choose(2, 9), Gen.choose(0, 8)).map { case (m, r) => Delete(m, r % m) },
      3 -> Gen.zip(Gen.choose(2, 9), Gen.choose(0, 8)).map { case (m, r) => Update(m, r % m) },
      1 -> Gen.const(Compact))
    var next = 0L
    def rows(n: Int) = {
      val df = spark.range(next, next + n).selectExpr("id", "id * 10 AS w")
      next += n; df
    }
    def run(ops: List[Op]): Boolean = {
      val p = java.nio.file.Files.createTempDirectory("txdvprop").toString + "/t"
      TxTable.overwrite(spark, p, rows(60).repartition(3))
      ops.forall { o =>
        o match {
          case Append(n)    => TxTable.append(spark, p, rows(n))
          case Delete(m, r) => TxTable.deleteWhereDv(spark, p, col("id") % m === r)
          case Update(m, r) => TxTable.updateWhereDv(spark, p, col("id") % m === r,
            Map("w" -> (col("w") + 1)))
          case Compact      => TxTable.compactSmall(spark, p)
        }
        val st = TxTable.snapshotState(spark, p, TxTable.latestVersion(spark, p))
        var got = Map.empty[String, Array[Long]]
        val jobs = graft.obs.SparkCounters.during(spark.sparkContext) {
          got = TxTable.delPositions(spark, p, st)
        }("jobs")
        val want = referencePositions(p, st)
        val same = got.map { case (f, ps) => f -> ps.toSeq } == want
        assert(same, s"after $o: positions differ from the Spark reference")
        assert(jobs === 0.0, s"after $o: delPositions started $jobs Spark jobs")
        same && jobs == 0.0
      }
    }
    val prop = Prop.forAll(Gen.choose(2, 6).flatMap(Gen.listOfN(_, op)))(run)
    val result = Test.check(Test.Parameters.default.withMinSuccessfulTests(4), prop)
    assert(result.passed, Pretty.pretty(result))
  }

  test("the DV cap fails before any position-delete byte is read") {
    val p = java.nio.file.Files.createTempDirectory("txdvcap2").toString + "/t"
    fortySmallFiles(p)
    val st = TxTable.snapshotState(spark, p, TxTable.latestVersion(spark, p))
    // an unreadable del file: only the cap check can keep its bytes unread
    st.dels.foreach(d => java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$p/$d"), "not parquet " * 64))
    spark.conf.set(TxTable.DvMaxDriverBytesConf, "1")
    try {
      val e = intercept[IllegalStateException](TxTable.delPositions(spark, p, st))
      assert(e.getMessage.contains("compact_small"), e.getMessage)
    } finally spark.conf.unset(TxTable.DvMaxDriverBytesConf)
    // under the default cap the same call reads the broken file and fails
    intercept[Exception](TxTable.delPositions(spark, p, st))
  }
}
