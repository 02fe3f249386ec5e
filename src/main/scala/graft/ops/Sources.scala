package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.H._

/** Source/sink round-trips beyond parquet: CSV and JSON-lines, the two
  * ingest formats the reference snapshots most often carry
  * (/root/reference/src/shelf/__init__.py:207-233 ingests arbitrary
  * files; tables read them via DuckDB's read_csv/read_json). Spark
  * writes the format, reads it back, and the DuckDB oracle reads the
  * SAME files — so the round-trip (writer dialect, header, type
  * inference) is what's verified, not just the query on top.
  *
  * Scale note: the writes keep Spark's native partitioned layout (one
  * file per partition, glob-read back); `coalesce(1)` is NOT used —
  * single-file output is a driver-side bottleneck at 100 TB.
  */
object Sources {

  /** The sf-dir the oracle SQL should point at; Verify overwrites this
    * with its actual argument before dumping oracle_sql.json.
    */
  @volatile private[graft] var oracleSfDir: String = "/root/testdata/sf0.01"

  private[graft] val ioPlaceholder = "__GRAFT_IO__"

  /** Each scratch format's source tables and recipe version. Bump a
    * version when that format's write recipe changes shape.
    */
  private val recipes: Map[String, (Seq[String], Int)] = Map(
    "csv" -> (Seq("orders"), 1), "orc" -> (Seq("orders"), 1),
    "avro" -> (Seq("lineitem"), 1), "jsonl" -> (Seq("nation"), 1),
    "parq_part" -> (Seq("orders"), 1), "evolve" -> (Seq("nation"), 1),
    "stream_incr" -> (Seq("documents"), 1),
    "stream_sem_incr" -> (Seq("embeddings"), 1),
    "stream_par_incr" -> (Seq("documents"), 1),
    "graph" -> (Seq("orders", "lineitem"), 1),
    // 22: staged (atomic) CTAS; 25: column mapping (q_tx_rename)
    "txtable" -> (Seq("documents", "orders", "lineitem"), 25))

  private def inputsOf(dir: String, fmt: String): Seq[String] =
    recipes(fmt)._1.map(n => s"$dir/$n.parquet")

  /** Point each `__GRAFT_IO__/<fmt>` of the oracle SQL at the
    * [[graft.api.BuildCache]] entry [[ensure]] writes for
    * [[oracleSfDir]], so the DuckDB side reads the files the matching
    * Spark run wrote.
    */
  private[graft] def resolveOracle(sql: String): String =
    s"$ioPlaceholder/(\\w+)".r.replaceAllIn(sql, m =>
      scala.util.matching.Regex.quoteReplacement(graft.api.BuildCache.entryPath(
        s"src_${m.group(1)}", recipes(m.group(1))._2,
        inputsOf(oracleSfDir, m.group(1)), oracleSfDir)))

  /** A scratch source write: a deterministic function of its source
    * tables, so it is a [[graft.api.BuildCache]] entry — a later run
    * against unchanged sources skips the rewrite entirely (the bench's
    * src_writes build line drops to a metadata check). One SessionMemo
    * entry per (session, dir, fmt): concurrent first callers in a
    * session wait for the single write, while distinct formats write in
    * parallel.
    */
  private[graft] def ensure(s: SparkSession, dir: String, fmt: String)
                           (write: String => Unit): String =
    graft.api.SessionMemo(s, "sources.written", (dir, fmt))(
      graft.api.BuildCache(s, s"src_$fmt", recipes(fmt)._2,
        inputsOf(dir, fmt), dir)(write))

  private def oraclePath(fmt: String) = s"$ioPlaceholder/$fmt"

  /** Stamp every file under arrival dirs `s0 < s1 < s2` with strictly
    * ASCENDING mtimes (one minute apart, anchored shortly in the past).
    * The incremental-replay parity contracts (segment/semantic min-id
    * dominance) require micro-batches to arrive in ascending-id file
    * order, and Spark's FileStreamSource orders by modification time —
    * three writes landing inside one clock tick could otherwise reorder
    * batches and flip min-keeper results against the oracle.
    */
  private def stampArrivalOrder(out: String): Unit = {
    val t0 = System.currentTimeMillis() - 600000L
    (0 until 3).foreach { i =>
      val d = new java.io.File(s"$out/s$i")
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .foreach(_.setLastModified(t0 + i * 60000L))
    }
  }

  // One-time source materializations, shared by the queries (lazily)
  // and Bench's build phase (eagerly, so query timings measure the
  // read+aggregate side of the round-trip, not the amortized write).

  private def ensureCsv(s: SparkSession, dir: String): String =
    ensure(s, dir, "csv") { out =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").option("header", "true").csv(out)
    }

  private def ensureOrc(s: SparkSession, dir: String): String =
    ensure(s, dir, "orc") { out =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
        .write.mode("overwrite").orc(out)
    }

  /** Spark 4 ships the complete V1 avro FileFormat inside spark-sql
    * (serializer, deserializer, writer — verified in the jar on this
    * machine) but does NOT register the "avro" ALIAS (the service-file
    * entry lives in the separate spark-avro module, absent here), so
    * `format("avro")` throws the deploy-spark-avro hint while the
    * fully-qualified class name loads and runs the identical code.
    */
  private[graft] val AvroFormat = "org.apache.spark.sql.avro.AvroFileFormat"

  private def ensureAvro(s: SparkSession, dir: String): String =
    ensure(s, dir, "avro") { out =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_returnflag",
          "l_extendedprice", "l_shipdate")
        .write.mode("overwrite").format(AvroFormat).save(out)
    }

  private def ensureJsonl(s: SparkSession, dir: String): String =
    ensure(s, dir, "jsonl") { out =>
      t(s, dir, "nation")
        .select(col("n_nationkey"), col("n_regionkey"),
          struct(length(col("n_name")).cast("long").as("name_len"),
            upper(col("n_name")).as("upper")).as("meta"))
        .write.mode("overwrite").json(out)
    }

  private def ensurePartitioned(s: SparkSession, dir: String): String =
    ensure(s, dir, "parq_part") { out =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
        .write.mode("overwrite").partitionBy("o_orderpriority").parquet(out)
    }

  private def ensureEvolve(s: SparkSession, dir: String): String =
    ensure(s, dir, "evolve") { out =>
      val nat = t(s, dir, "nation")
      nat.filter(col("n_nationkey") < 12)
        .select("n_nationkey", "n_regionkey")
        .write.mode("overwrite").parquet(s"$out/gen1")
      nat.filter(col("n_nationkey") >= 12)
        .select(col("n_nationkey"), col("n_regionkey"),
          length(col("n_name")).cast("long").as("n_comment_len"))
        .write.mode("overwrite").parquet(s"$out/gen2")
    }

  /** Three deterministic slices of the 10% document increment
    * (doc_id % 10 = 0, sliced by (doc_id div 10) % 3), one parquet file
    * each — the arrival files q_stream_dedup_incr replays as three
    * micro-batches. Slicing is by id arithmetic so the batch membership
    * (and therefore the streamed pair set) is reproducible.
    */
  private[graft] def ensureStreamIncr(s: SparkSession, dir: String): String =
    ensure(s, dir, "stream_incr") { out =>
      val incr = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
      (0 until 3).foreach { i =>
        incr.filter(expr(s"(doc_id div 10) % 3 = $i"))
          .coalesce(1).write.mode("overwrite").parquet(s"$out/s$i")
      }
      stampArrivalOrder(out)
    }

  /** The 5% embedding increment (vec_id % 20 = 0) as three arrival
    * files with ids ASCENDING by file order — the parity precondition
    * of [[graft.streaming.Streams.semanticDedupReplay]] (its union over
    * micro-batches equals the one-shot incremental result only when
    * newcomer ids ascend with batch order).
    */
  private[graft] def ensureStreamSemIncr(s: SparkSession, dir: String): String =
    ensure(s, dir, "stream_sem_incr") { out =>
      val inc = t(s, dir, "embeddings").filter(col("vec_id") % 20 === 0)
        .select("vec_id", "embedding")
      // an EMPTY increment must still write three (empty) files — the
      // sibling ensureStreamIncr's behavior — not NPE on a null max and
      // abort all of prewriteAll
      val mx = Option(inc.agg(max("vec_id")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(-1L)
      (0 until 3).foreach { i =>
        val lo = i * (mx + 1) / 3
        val hi = if (i == 2) Long.MaxValue else (i + 1) * (mx + 1) / 3
        inc.filter(col("vec_id") >= lo && col("vec_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/s$i")
      }
      stampArrivalOrder(out)
    }

  /** The 10% document increment (doc_id % 10 = 0) as three arrival
    * files with ids ASCENDING by file order — the parity precondition
    * of [[graft.streaming.Streams.segmentDedupReplay]] (its union over
    * micro-batches equals the one-shot incremental paragraph dedup only
    * when newcomer ids ascend with batch order; the interleaved
    * [[ensureStreamIncr]] split would violate the min-keeper rule).
    */
  private[graft] def ensureStreamParIncr(s: SparkSession, dir: String): String =
    ensure(s, dir, "stream_par_incr") { out =>
      val inc = t(s, dir, "documents").filter(col("doc_id") % 10 === 0)
        .select("doc_id", "text")
      val mx = Option(inc.agg(max("doc_id")).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(-1L)
      (0 until 3).foreach { i =>
        val lo = i * (mx + 1) / 3
        val hi = if (i == 2) Long.MaxValue else (i + 1) * (mx + 1) / 3
        inc.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("overwrite").parquet(s"$out/s$i")
      }
      stampArrivalOrder(out)
    }

  /** Materialize every source-sink scratch file for (session, dir). */
  private[graft] def prewriteAll(s: SparkSession, dir: String): Unit = {
    ensureCsv(s, dir); ensureJsonl(s, dir); ensureOrc(s, dir)
    ensureAvro(s, dir)
    ensurePartitioned(s, dir); ensureEvolve(s, dir)
    ensureStreamIncr(s, dir); ensureStreamSemIncr(s, dir)
    ensureStreamParIncr(s, dir); ensureTx(s, dir); ensureGraph(s, dir); ()
  }

  /** Customer→supplier link graph materialized once: `edges` carries
    * (src, dst, deg) with the out-degree denormalized (so each PageRank
    * iteration is ONE join + one aggregation, no degree join), `nodes`
    * one id per vertex. Vertex ids are disjoint by parity —
    * custkey·2 / suppkey·2+1 — because the raw key ranges overlap.
    * Materializing (instead of recomputing the orders⋈lineitem distinct
    * inside every iteration of the rank plan) is the same
    * amortize-behind-fingerprint shape as every other scratch build.
    */
  private[graft] def ensureGraph(s: SparkSession, dir: String): String =
    ensure(s, dir, "graph") { out =>
      val raw = t(s, dir, "orders").join(t(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      val edges = graft.api.Graphs.edgesWithOutDegree(raw, "src", "dst")
      edges.write.mode("overwrite").parquet(s"$out/edges")
      graft.api.Graphs.nodes(raw, "src", "dst")
        .write.mode("overwrite").parquet(s"$out/nodes")
    }

  val qs: Seq[Q] = Seq(

    // CSV round-trip: Spark writes headered CSV partitions of a 4-column
    // orders projection, reads them back with an explicit schema, and
    // aggregates; DuckDB reads the same files.
    Q("q_src_csv",
      Some(s"""SELECT o_orderpriority, count(*) AS n,
                      ${oSum("o_totalprice")} AS total
               FROM read_csv('${oraclePath("csv")}/*.csv',
                             header = true, columns = {
                               'o_orderkey': 'BIGINT', 'o_custkey': 'BIGINT',
                               'o_orderpriority': 'VARCHAR', 'o_totalprice': 'DOUBLE'})
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val path = ensureCsv(s, dir)
        val schema = StructType(Seq(
          StructField("o_orderkey", LongType), StructField("o_custkey", LongType),
          StructField("o_orderpriority", StringType),
          StructField("o_totalprice", DoubleType)))
        s.read.option("header", "true").schema(schema).csv(path)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderpriority")
      }),

    // ORC round-trip: Spark writes and reads ORC natively (the second
    // columnar format large lakes actually hold). DuckDB cannot read
    // ORC, so the oracle is the ROUND-TRIP IDENTITY: the same aggregate
    // over the parquet original — any write/read corruption or type
    // drift in the ORC path breaks the hash match.
    Q("q_src_orc",
      Some(s"""SELECT o_orderpriority, count(*) AS n,
                      ${oSum("o_totalprice")} AS total
               FROM orders GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val path = ensureOrc(s, dir)
        s.read.orc(path)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("o_orderpriority")
      }),

    // AVRO round-trip: the row-oriented interchange format ingest
    // pipelines actually move (Kafka payloads, export dumps). Spark 4
    // bundles the avro datasource in spark-sql (verified on this
    // machine — the round-11 "no spark-avro jar" env-block is stale),
    // so the write and read both run natively, timestamp-micros
    // logical type included. DuckDB cannot read avro here (read_avro
    // is an extension; zero egress), so the oracle is the ROUND-TRIP
    // IDENTITY over the parquet original — the q_src_orc discipline:
    // any dropped row, type drift, or timestamp unit slip in the avro
    // path breaks the hash.
    Q("q_src_avro",
      Some(s"""SELECT l_returnflag, count(*) AS n,
                      ${oSum("l_extendedprice")} AS total,
                      epoch_us(MAX(l_shipdate)) AS max_ship_us
               FROM lineitem GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val path = ensureAvro(s, dir)
        s.read.format(AvroFormat).load(path)
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            dsum(col("l_extendedprice")).as("total"),
            unix_micros(max(col("l_shipdate")).cast("timestamp"))
              .as("max_ship_us"))
          .orderBy("l_returnflag")
      }),

    // JSON-lines round-trip: nation enriched with a nested struct, read
    // back with schema inference on the Spark side and read_json on the
    // DuckDB side.
    Q("q_src_jsonl",
      Some(s"""SELECT n_regionkey, count(*) AS n_nations,
                      min(meta.name_len) AS min_len, max(meta.name_len) AS max_len
               FROM read_json('${oraclePath("jsonl")}/*.json',
                              format = 'newline_delimited', columns = {
                                'n_nationkey': 'BIGINT', 'n_regionkey': 'BIGINT',
                                'meta': 'STRUCT(name_len BIGINT, upper VARCHAR)'})
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val path = ensureJsonl(s, dir)
        s.read.json(path)
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n_nations"),
            min(col("meta.name_len")).as("min_len"),
            max(col("meta.name_len")).as("max_len"))
          .orderBy("n_regionkey")
      }),

    // Same round-trip with an EXPLICIT schema — the scale path: schema
    // inference is a full extra pass over the data before the real scan
    // (at 100 TB that doubles the read), so production JSONL ingest
    // declares its schema. The DuckDB oracle already declares columns,
    // making this the closer mirror of the two.
    Q("q_src_jsonl_schema",
      Some(s"""SELECT n_regionkey, count(*) AS n_nations,
                      min(meta.name_len) AS min_len, max(meta.name_len) AS max_len
               FROM read_json('${oraclePath("jsonl")}/*.json',
                              format = 'newline_delimited', columns = {
                                'n_nationkey': 'BIGINT', 'n_regionkey': 'BIGINT',
                                'meta': 'STRUCT(name_len BIGINT, upper VARCHAR)'})
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val path = ensureJsonl(s, dir)
        val schema = StructType(Seq(
          StructField("n_nationkey", LongType),
          StructField("n_regionkey", LongType),
          StructField("meta", StructType(Seq(
            StructField("name_len", LongType),
            StructField("upper", StringType))))))
        s.read.schema(schema).json(path)
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n_nations"),
            min(col("meta.name_len")).as("min_len"),
            max(col("meta.name_len")).as("max_len"))
          .orderBy("n_regionkey")
      }),

    // GK sketch quantiles with accuracy ≥ the largest group: the sketch
    // degenerates to exact order statistics, so it matches quantile_disc
    // — and the SAME query at lower accuracy is the bounded-memory scale
    // path (the accuracy parameter is the memory/exactness dial, 100%
    // Spark-side mergeable across partitions). The accuracy is DERIVED
    // from the table's row count (a parquet-footer count, no data scan)
    // rather than hardcoded: a fixed 1e6 silently goes approximate — and
    // desyncs from the exact oracle — the moment a group exceeds it
    // (sf≥1 lineitem). A production caller pins a fixed accuracy and
    // accepts the ε·N rank error instead of scaling memory with N.
    Q("q_approx_quantile",
      Some("""SELECT l_returnflag,
                     quantile_disc(l_quantity, 0.25) AS q25,
                     quantile_disc(l_quantity, 0.5)  AS q50,
                     quantile_disc(l_quantity, 0.9)  AS q90
              FROM lineitem GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        // accuracy is an Int parameter in Spark's GK implementation
        val acc = math.min(math.max(1000000L, li.count()), Int.MaxValue.toLong)
        li.groupBy("l_returnflag")
          .agg(
            expr(s"approx_percentile(l_quantity, 0.25, $acc)").as("q25"),
            expr(s"approx_percentile(l_quantity, 0.5, $acc)").as("q50"),
            expr(s"approx_percentile(l_quantity, 0.9, $acc)").as("q90"))
          .orderBy("l_returnflag")
      }),

    // Time-series resample + forward fill: dense per-region day spine
    // (sequence/generate_series), left join observed daily revenue,
    // last-non-null carry-forward. The gap-fill pattern every
    // time-series pipeline needs; spine generation is O(days×groups),
    // never a driver-side loop.
    Q("q_resample_ffill",
      Some("""WITH daily AS (
                SELECT r_name, CAST(o_orderdate AS DATE) AS d,
                       SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS rev
                FROM orders JOIN customer ON o_custkey = c_custkey
                            JOIN nation ON c_nationkey = n_nationkey
                            JOIN region ON n_regionkey = r_regionkey
                GROUP BY 1, 2),
              bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM daily),
              spine AS (
                -- DuckDB 1.0's generate_series takes constants only: use a
                -- constant numbers table + date arithmetic instead
                SELECT r_name, CAST((SELECT lo FROM bounds) + i * INTERVAL 1 DAY AS DATE) AS d
                FROM (SELECT DISTINCT r_name FROM region) r, range(5000) t(i)
                WHERE (SELECT lo FROM bounds) + i * INTERVAL 1 DAY
                        <= (SELECT hi FROM bounds)),
              joined AS (
                SELECT s.r_name, s.d, daily.rev,
                       CAST(daily.rev IS NULL AS BOOLEAN) AS is_gap
                FROM spine s LEFT JOIN daily USING (r_name, d))
              SELECT r_name, d,
                     CAST(ROUND(COALESCE(last_value(rev IGNORE NULLS) OVER (
                       PARTITION BY r_name ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0), 4)
                     AS DOUBLE) AS rev_ffill,
                     is_gap
              FROM joined ORDER BY r_name, d"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val daily = t(s, dir, "orders")
          .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
          // bounded: nation/region are FIXED cardinality (25/5 rows)
          .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
          .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
          .groupBy(col("r_name"), col("o_orderdate").cast("date").as("d"))
          .agg(sum(col("o_totalprice").cast(D)).as("rev"))
        val bounds = daily.agg(min("d").as("lo"), max("d").as("hi"))
        val spine = t(s, dir, "region").select("r_name").distinct()
          .crossJoin(broadcast(bounds)) // bounded: 1-row min/max aggregate
          .select(col("r_name"), explode(expr("sequence(lo, hi, interval 1 day)")).as("d"))
        val w = Window.partitionBy("r_name").orderBy("d")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        spine.join(daily, Seq("r_name", "d"), "left")
          .withColumn("is_gap", col("rev").isNull)
          .select(col("r_name"), col("d"),
            round(coalesce(last(col("rev"), ignoreNulls = true).over(w), lit(0)), 4)
              .cast("double").as("rev_ffill"),
            col("is_gap"))
          .orderBy("r_name", "d")
      }),

    // Hive-partitioned parquet round-trip: Spark writes orders
    // partitioned by o_orderpriority, reads it back with a filter ON
    // the partition column — the scan prunes to one directory
    // (PartitionFilters, no data-file IO for the other 4/5ths) —
    // and DuckDB reads the same layout via hive_partitioning.
    Q("q_src_partitioned",
      Some(s"""SELECT o_custkey % 10 AS bucket, count(*) AS n,
                      ${oSum("o_totalprice")} AS total
               FROM read_parquet('${oraclePath("parq_part")}/*/*.parquet',
                                 hive_partitioning = true)
               WHERE o_orderpriority = '1-URGENT'
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val path = ensurePartitioned(s, dir)
        s.read.parquet(path)
          .filter(col("o_orderpriority") === "1-URGENT")
          .groupBy((col("o_custkey") % 10).as("bucket"))
          .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
          .orderBy("bucket")
      }),

    // Schema-evolution read: two parquet generations of the same table
    // (the newer one grew a column), merged with mergeSchema on the
    // Spark side and union_by_name on the DuckDB side — the
    // source-level twin of q_set_byname, exercised through FILES
    // rather than DataFrames.
    Q("q_src_evolve",
      Some(s"""SELECT n_regionkey, count(*) AS n,
                      count(n_comment_len) AS n_with_len
               FROM read_parquet(['${oraclePath("evolve")}/gen1/*.parquet',
                                  '${oraclePath("evolve")}/gen2/*.parquet'],
                                 union_by_name = true)
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val path = ensureEvolve(s, dir)
        s.read.option("mergeSchema", "true")
          .parquet(s"$path/gen1", s"$path/gen2")
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n"),
            count(col("n_comment_len")).as("n_with_len"))
          .orderBy("n_regionkey")
      }),

    Q("q_percentile",
      Some("""SELECT l_returnflag,
                     ROUND(CAST(quantile_cont(l_extendedprice, 0.25) AS DOUBLE), 6) AS p25,
                     ROUND(CAST(quantile_cont(l_extendedprice, 0.5)  AS DOUBLE), 6) AS p50,
                     ROUND(CAST(quantile_cont(l_extendedprice, 0.9)  AS DOUBLE), 6) AS p90
              FROM lineitem GROUP BY 1 ORDER BY 1"""),
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25"),
          round(expr("percentile(l_extendedprice, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90"))
        .orderBy("l_returnflag")),

    // Transactional table, TIME TRAVEL read: version 1 of the demo
    // TxTable (graft.api.TxTable — commit-log-over-parquet, see
    // scaladoc) holds the 90% corpus; two later commits appended the
    // rest and compacted. Reading v1 AFTER those commits must still see
    // exactly the v1 rows — the oracle recomputes them from the source
    // predicate, so any history rewrite breaks the hash.
    Q("q_tx_timetravel",
      Some("""SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents WHERE doc_id % 10 <> 0
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.readVersion(s, ensureTx(s, dir), 1)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // Transactional table, CURRENT read after overwrite -> append ->
    // compact -> vacuum: the latest snapshot must equal the FULL source
    // corpus exactly (append landed atomically, compaction preserved
    // content, vacuum touched nothing referenced) — verified against
    // the source-table oracle, not against the table's own files.
    Q("q_tx_acid",
      Some("""SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTx(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // Transactional MERGE + DELETE: the upsert table started as the
    // full corpus, merged an update set (doc_id%7 rewritten to
    // source='merged' with n_chars+1; doc_id%13 re-keyed +1e6 as
    // inserts), then transactionally deleted doc_id%11. The oracle
    // replays the same algebra over the SOURCE table — matched-key
    // replacement, unmatched insert, then the delete predicate — so
    // any lost update, double-applied merge, or leaked deleted row
    // breaks the hash.
    Q("q_tx_upsert",
      Some("""WITH upd AS (
                SELECT doc_id, text, lang, 'merged' AS source,
                       n_chars + 1 AS n_chars
                FROM documents WHERE doc_id % 7 = 0
                UNION ALL
                SELECT doc_id + 1000000, text, lang, 'inserted', n_chars
                FROM documents WHERE doc_id % 13 = 0),
              head AS (
                SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
                FROM documents d
                WHERE d.doc_id NOT IN (SELECT doc_id FROM upd)
                UNION ALL SELECT * FROM upd)
              SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM head WHERE NOT (doc_id % 11 = 0)
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTxUpsert(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // Transactional DATA SKIPPING: the clustered demo table recorded
    // each file's (lo, hi) of doc_id in the commit log at write time;
    // readRange prunes non-overlapping files from the LOG before Spark
    // ever lists them (TxTableSpec pins the pruning itself), and the
    // oracle recomputes the range from the source table — so a wrong
    // stat, an over-pruned file, or a missed residual filter all break
    // the hash.
    Q("q_tx_skipping",
      Some("""SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents WHERE doc_id BETWEEN 100 AND 400
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.readRange(s,
          ensureTxClustered(s, dir), "doc_id", 100L, 400L)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // Transactional TWO-DIMENSIONAL data skipping: the z-ordered demo
    // table laid orders along the Morton curve of (o_custkey,
    // o_orderkey) and recorded each file's per-column (lo, hi) for BOTH
    // dimensions in the commit log; readBox prunes files whose
    // rectangle cannot intersect the box before Spark lists them
    // (TxTableSpec pins the pruning), and the oracle recomputes the box
    // from the source table — wrong stats, over-pruning, or a dropped
    // residual filter all break the hash.
    Q("q_tx_zbox",
      Some(s"""SELECT o_orderpriority, count(*) AS n,
                      ${oSum("o_totalprice")} AS total
               FROM orders
               WHERE o_custkey BETWEEN 100 AND 300
                 AND o_orderkey BETWEEN 1000 AND 30000
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.readBox(s, ensureTxZordered(s, dir),
          Seq(("o_custkey", 100L, 300L), ("o_orderkey", 1000L, 30000L)))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")),

    // Transactional THREE-DIMENSIONAL data skipping: the z3 demo table
    // laid lineitem along the 3-way round-robin Morton curve of
    // (l_partkey, l_suppkey, l_orderkey) and recorded each file's
    // per-column (lo, hi) for ALL THREE dimensions in the commit log;
    // readBox prunes files whose 3-D rectangle cannot intersect the box
    // before Spark lists them (TxTableSpec pins the pruning), and the
    // oracle recomputes the box from the source table — wrong stats,
    // over-pruning, or a dropped residual filter all break the hash.
    Q("q_tx_zbox3",
      Some(s"""SELECT l_returnflag, count(*) AS n,
                      ${oSum("l_extendedprice")} AS total
               FROM lineitem
               WHERE l_partkey BETWEEN 100 AND 600
                 AND l_suppkey BETWEEN 5 AND 60
                 AND l_orderkey BETWEEN 1000 AND 40000
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.readBox(s, ensureTxZordered3(s, dir),
          Seq(("l_partkey", 100L, 600L), ("l_suppkey", 5L, 60L),
            ("l_orderkey", 1000L, 40000L)))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("total"))
        .orderBy("l_returnflag")),

    // Transactional POINT-LOOKUP skipping on a SECONDARY key: the
    // bloom-indexed demo table is laid out by o_custkey (range
    // clustering) but carries a per-file bloom filter of o_orderkey in
    // the commit log; readPoints prunes files whose bloom excludes
    // every probed key before Spark lists them (TxTableSpec pins the
    // pruning and the no-false-negative contract), and the oracle
    // recomputes the lookup from the source table — a dropped row
    // (false negative) or a missed residual filter breaks the hash.
    Q("q_tx_point",
      Some("""SELECT o_orderkey, o_custkey, o_orderpriority
              FROM orders WHERE o_orderkey IN (7, 399, 1234)
              ORDER BY o_orderkey"""),
      (s, dir) => graft.api.TxTable.readPoints(s,
          ensureTxBloom(s, dir), "o_orderkey", Seq(7L, 399L, 1234L))
        .select("o_orderkey", "o_custkey", "o_orderpriority")
        .orderBy("o_orderkey")),

    // TxTable through the REGISTERED SPARK DATA SOURCE: the same range
    // predicate as q_tx_skipping, but expressed as an ordinary
    // DataFrame filter over spark.read.format("txtable") — Catalyst
    // pushes the conjunction into the scan, which prunes files from
    // the commit log's recorded stats (TxTableRelation.keptFiles;
    // TxTableSpec pins the pruning itself), while Spark re-applies the
    // real predicate above the scan. The oracle
    // recomputes from the source table, so a mis-mapped pushed filter,
    // an over-pruned file, or a dropped residual all break the hash.
    Q("q_tx_source",
      Some("""SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents WHERE doc_id BETWEEN 150 AND 450
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => s.read.format("txtable")
        .load(ensureTxClustered(s, dir))
        .filter(col("doc_id").between(150, 450))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // TEMPORAL data skipping through the registered source: orders
    // clustered by o_orderdate with per-file wall-clock-micros ranges
    // in the commit log; a pushed timestamp BETWEEN prunes files whose
    // recorded range cannot intersect 1995 before Spark lists them
    // (TxTableSpec pins date/NTZ/LTZ pruning on both paths), while the
    // residual predicate and the oracle recompute the exact rows — a
    // wrong epoch encoding (days vs micros, TZ shift) over- or
    // under-prunes and breaks the hash.
    Q("q_tx_date",
      Some(s"""SELECT o_orderpriority, count(*) AS n,
                      ${oSum("o_totalprice")} AS total
               FROM orders
               WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                                     AND TIMESTAMP '1995-12-31 23:59:59'
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => s.read.format("txtable")
        .load(ensureTxDate(s, dir))
        .filter(expr("o_orderdate BETWEEN TIMESTAMP_NTZ'1995-01-01 00:00:00' " +
          "AND TIMESTAMP_NTZ'1995-12-31 23:59:59'"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")),

    // STRING data skipping through the registered source: orders
    // clustered by o_orderpriority with per-file TRUNCATED string
    // bounds in the commit log (prefix min; max with its last byte
    // incremented — both conservative by construction); a pushed
    // equality prunes to the files whose recorded range covers the
    // value, while the residual predicate and the oracle recompute the
    // exact rows — a byte-order mismatch (signed vs unsigned, UTF-8 vs
    // collation) over- or under-prunes and breaks the hash.
    Q("q_tx_strkey",
      Some(s"""SELECT o_orderstatus, count(*) AS n,
                      ${oSum("o_totalprice")} AS total
               FROM orders
               WHERE o_orderpriority = '1-URGENT'
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => s.read.format("txtable")
        .load(ensureTxStr(s, dir))
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderstatus")),

    // ADDITIVE SCHEMA EVOLUTION: the evolve demo table's v1 holds the
    // doc_id%3=0 slice in (doc_id, source, n_chars); v2 evolveAppend'ed
    // the %3=1 slice carrying a new `q` column, recording the widened
    // schema in the commit log. The head leg reads v1's files with q
    // NULL-FILLED (the oracle's union writes NULL explicitly); the v1
    // leg time-travels to the pre-evolution snapshot, whose q must be
    // null for EVERY row — a head schema leaking backwards, a dropped
    // old row, or wrong null-fill all break the hash.
    Q("q_tx_evolve",
      Some("""WITH ev AS (
                SELECT doc_id, source, n_chars, CAST(NULL AS BIGINT) AS q
                FROM documents WHERE doc_id % 3 = 0
                UNION ALL
                SELECT doc_id, source, n_chars, (doc_id * 7) % 100 AS q
                FROM documents WHERE doc_id % 3 = 1)
              SELECT 'head' AS snap, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars,
                     CAST(SUM(q) AS BIGINT) AS qsum
              FROM ev GROUP BY 1, 2
              UNION ALL
              SELECT 'v1' AS snap, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars,
                     CAST(NULL AS BIGINT) AS qsum
              FROM documents WHERE doc_id % 3 = 0 GROUP BY 1, 2
              ORDER BY snap, source"""),
      (s, dir) => {
        val tbl = ensureTxEvolve(s, dir)
        val head = graft.api.TxTable.read(s, tbl)
          .groupBy(lit("head").as("snap"), col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
            sum(col("q")).as("qsum"))
        val v1 = graft.api.TxTable.readVersion(s, tbl, 1)
          .groupBy(lit("v1").as("snap"), col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"),
            lit(null).cast("long").as("qsum"))
        head.unionByName(v1).orderBy("snap", "source")
      }),

    // END-TO-END CDC PIPELINE: pollChanges (durable cursor) ->
    // exactly-once txn-tagged append into a downstream audit table,
    // one poll per upstream commit, WITH a crash redelivery in window
    // 2 (the batch was processed twice before its ack; the txn id must
    // land it once). The downstream head is the full change history of
    // the upstream: creation inserts (%4=0), appended inserts (%4=1),
    // then cdf deletes of every n_chars%5=0 row. The oracle replays
    // that algebra over the source table — a double-landed redelivery,
    // a skipped window, or a mis-tagged delete all break the hash.
    Q("q_tx_pipeline",
      Some("""WITH up AS (
                SELECT doc_id, source, n_chars FROM documents
                WHERE doc_id % 4 = 0
                UNION ALL
                SELECT doc_id, source, n_chars FROM documents
                WHERE doc_id % 4 = 1)
              SELECT 'insert' AS change, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM up GROUP BY 2
              UNION ALL
              SELECT 'delete' AS change, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM up WHERE n_chars % 5 = 0 GROUP BY 2
              ORDER BY change, source"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTxPipeline(s, dir))
        .groupBy(col("_change").as("change"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("change", "source")),

    // TEMPORAL Z-ORDER: orders laid along the Morton curve of
    // (o_orderdate, o_custkey) — the timestamp dimension rides the
    // interleave through a monotone epoch projection while the
    // recorded rectangles stay in the exact footer stat encoding, so
    // the pushed time-window x customer-range conjunction prunes files
    // whose rectangle cannot intersect the box. The oracle recomputes
    // the box from the source table — a TZ shift, days-vs-micros mixup
    // or rectangle drift over- or under-prunes and breaks the hash.
    Q("q_tx_zdate",
      Some(s"""SELECT o_orderpriority, count(*) AS n,
                      ${oSum("o_totalprice")} AS total
               FROM orders
               WHERE o_orderdate BETWEEN TIMESTAMP '1994-01-01 00:00:00'
                                     AND TIMESTAMP '1994-06-30 23:59:59'
                 AND o_custkey BETWEEN 100 AND 500
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => s.read.format("txtable")
        .load(ensureTxZdate(s, dir))
        .filter(expr("o_orderdate BETWEEN TIMESTAMP_NTZ'1994-01-01 00:00:00' " +
          "AND TIMESTAMP_NTZ'1994-06-30 23:59:59'") &&
          col("o_custkey").between(100, 500))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")),

    // OPTIMIZE in place: the table was written PLAIN and re-laid-out
    // to a doc_id range-cluster by a single conflict-safe overwrite
    // commit — content must be IDENTICAL to the source table (the
    // oracle recomputes the range from it) while the pushed range now
    // prunes from the fresh typed stats (TxTableSpec pins pruning,
    // compact/restore stats carry-forward, and the z-order re-layout).
    Q("q_tx_optimize",
      Some("""SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents WHERE doc_id BETWEEN 200 AND 500
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => s.read.format("txtable")
        .load(ensureTxOptimize(s, dir))
        .filter(col("doc_id").between(200, 500))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // The STREAMING CDC pipe: the same upstream history as
    // q_tx_pipeline, but consumed through readStream.format("txtable")
    // (the change-feed SOURCE — offsets are commit versions) into the
    // txtable SINK (txn-tagged appends). One AvailableNow batch served
    // the whole (0, head] window, so the downstream head carries every
    // change row incl. the cdf deletes — the oracle replays the same
    // creation/append/delete algebra and additionally derives the
    // delete set, which the batch pipe's insert-only audit never
    // exercised through a streaming plan.
    Q("q_tx_stream_pipe",
      Some("""WITH up AS (
                SELECT doc_id, source, n_chars FROM documents
                WHERE doc_id % 4 = 0
                UNION ALL
                SELECT doc_id, source, n_chars FROM documents
                WHERE doc_id % 4 = 1)
              SELECT 'insert' AS change, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM up GROUP BY 2
              UNION ALL
              SELECT 'delete' AS change, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM up WHERE n_chars % 5 = 0 GROUP BY 2
              ORDER BY change, source"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTxStreamPipe(s, dir))
        .groupBy(col("_change").as("change"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("change", "source")),

    // SQL DML end-to-end: INSERT INTO / INSERT OVERWRITE on the
    // registered catalog table each landed ONE transactional commit
    // (append, then overwrite) on the same log. The query replays
    // version 2 (after the INSERT INTO: the %3=0 creation slice plus
    // the inserted %3=1 slice) AND the head (after the INSERT
    // OVERWRITE: exactly the doc_id<=500 slice) from that history; the
    // oracle derives both phases from the source table. A mis-routed
    // INSERT — Spark's native file write, which deletes the log on
    // overwrite and lands invisible files on append — makes one or
    // both phases unreadable or wrong.
    Q("q_tx_sql_dml",
      Some("""WITH v2 AS (SELECT source, n_chars FROM documents
                          WHERE doc_id % 3 IN (0, 1)),
                   hd AS (SELECT source, n_chars FROM documents
                          WHERE doc_id <= 500)
              SELECT 'after_insert' AS phase, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM v2 GROUP BY 2
              UNION ALL
              SELECT 'after_overwrite' AS phase, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM hd GROUP BY 2
              ORDER BY phase, source"""),
      (s, dir) => {
        val p = ensureTxSqlDml(s, dir)
        graft.api.TxTable.readVersion(s, p, 2)
          .withColumn("phase", lit("after_insert"))
          .unionByName(s.read.format("txtable").load(p)
            .withColumn("phase", lit("after_overwrite")))
          .groupBy("phase", "source")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .orderBy("phase", "source")
      }),

    // CATALOG DML end-to-end: CTAS -> SQL UPDATE -> MERGE INTO ->
    // row-level DELETE, each one transactional commit (the ensureTxBase
    // "ct" walk). The head must equal the oracle's algebra: the %3=0
    // creation slice with +10 on %9=0, REPLACED by the merge source on
    // %6=0 (doubled chars, source 'm'), the %3=1 slice inserted, then
    // every row whose current n_chars % 7 = 0 deleted. Any copy-on-write
    // defect — an unmatched row lost from a touched file, a carried
    // file re-scanned, a doubled merge insert — shifts counts or sums.
    Q("q_tx_catalog_dml",
      Some("""WITH t2 AS (
                SELECT doc_id, source,
                       n_chars + CASE WHEN doc_id % 9 = 0 THEN 10 ELSE 0 END
                         AS n_chars
                FROM documents WHERE doc_id % 3 = 0),
              t3 AS (
                SELECT doc_id, source, n_chars FROM t2 WHERE doc_id % 6 <> 0
                UNION ALL
                SELECT doc_id, 'm' AS source, n_chars * 2 AS n_chars
                FROM documents WHERE doc_id % 6 = 0
                UNION ALL
                SELECT doc_id, source, n_chars
                FROM documents WHERE doc_id % 3 = 1)
              SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM t3 WHERE n_chars % 7 <> 0
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTxCatalogDml(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // CONDITIONAL OVERWRITE end-to-end: REPLACE WHERE doc_id <= 300
    // swapped exactly that slice (even doc_ids, tripled chars) on the
    // clustered base in one commit. The head must equal the oracle's
    // splice — an over-wide rewrite (lost rows above the slice), an
    // under-delete (old slice rows surviving), or a doubled landing
    // breaks counts or sums.
    Q("q_tx_replace_where",
      Some("""WITH hd AS (
                SELECT doc_id, source, n_chars FROM documents
                WHERE doc_id > 300
                UNION ALL
                SELECT doc_id, 'r' AS source, n_chars * 3 AS n_chars
                FROM documents WHERE doc_id <= 300 AND doc_id % 2 = 0)
              SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM hd GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTxReplaceWhere(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // CATALOG STREAMING end-to-end: readStream.table (main-table
    // append feed) -> writeStream.toTable, drained twice around an
    // UPDATE (skipped), an INSERT (streamed), and a compact (zero
    // rows). The downstream head must be the three slices at ORIGINAL
    // values — snapshot-batch dedup, incremental windows, change-skip,
    // and txn exactly-once all land in one hash.
    Q("q_tx_stream_main",
      Some("""SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents WHERE doc_id % 4 IN (0, 1, 2)
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTxStreamMain(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // MERGE-ON-READ deletion vectors end-to-end: deleteWhereDv records
    // (file, position) parquet — no data file rewritten — then
    // updateWhereDv kills the live %11 rows as positions and appends
    // their updated images; the head read applies both delete sets.
    // The oracle is the same algebra over the source table, so a
    // position off by one, a resurrected deleted row, a doubled image,
    // or an update that matched an already-dead row breaks the hash.
    Q("q_tx_dv",
      Some("""WITH live AS (
                SELECT doc_id, source, n_chars FROM documents
                WHERE n_chars % 5 <> 0),
              upd AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 11 = 0 THEN 'd' ELSE source END
                         AS source,
                       CASE WHEN doc_id % 11 = 0 THEN n_chars + 7
                            ELSE n_chars END AS n_chars
                FROM live)
              SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM upd GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTxDv(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // MERGE-ON-READ SQL DML end-to-end: the SAME CTAS -> UPDATE ->
    // MERGE INTO -> row-level DELETE walk as q_tx_catalog_dml, routed
    // through a dv_dml catalog — every row-level statement plans the
    // DELTA operation and lands ONE `dv` commit (position deletes +
    // images, no data file rewritten). The oracle is the identical
    // algebra, so the two routes must hash-match each other AND the
    // oracle: a position off by one, a resurrected row, a doubled
    // image, or a delta read that missed an earlier commit's deletes
    // breaks it.
    Q("q_tx_dv_dml",
      Some("""WITH t2 AS (
                SELECT doc_id, source,
                       n_chars + CASE WHEN doc_id % 9 = 0 THEN 10 ELSE 0 END
                         AS n_chars
                FROM documents WHERE doc_id % 3 = 0),
              t3 AS (
                SELECT doc_id, source, n_chars FROM t2 WHERE doc_id % 6 <> 0
                UNION ALL
                SELECT doc_id, 'm' AS source, n_chars * 2 AS n_chars
                FROM documents WHERE doc_id % 6 = 0
                UNION ALL
                SELECT doc_id, source, n_chars
                FROM documents WHERE doc_id % 3 = 1)
              SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM t3 WHERE n_chars % 7 <> 0
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTxDvDml(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // COLUMN MAPPING end-to-end (ALTER TABLE RENAME/DROP/re-ADD): the
    // "rn" walk's head must equal the oracle's recomputation — the
    // renamed column reads old files' bytes under the new name, the
    // copy-on-write UPDATE hit the renamed column, the dropped
    // column's values are GONE from the re-added column (fresh
    // physical name) while the post-drop insert's values are present.
    Q("q_tx_rename",
      Some("""WITH r1 AS (
                SELECT doc_id,
                       n_chars + CASE WHEN doc_id % 8 = 0 THEN 5 ELSE 0 END
                         AS chars,
                       CAST(NULL AS VARCHAR) AS source
                FROM documents WHERE doc_id % 4 = 0),
              r2 AS (
                SELECT doc_id, n_chars + 1 AS chars, 'rn' AS source
                FROM documents WHERE doc_id % 4 = 1)
              SELECT coalesce(source, 'dropped') AS source, count(*) AS n,
                     CAST(SUM(chars) AS BIGINT) AS chars
              FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2)
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTxRename(s, dir))
        .withColumn("source", coalesce(col("source"), lit("dropped")))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("chars")).as("chars"))
        .orderBy("source")),

    // INDEXED INGEST end-to-end: the base and both appendClustered
    // increments each carry per-file ranges, so a doc_id range reads
    // pruned across ALL THREE commits' files — the oracle recomputes
    // the full slice, so an increment whose rows were mis-laid,
    // mis-indexed (over-pruned = missing rows) or double-landed (the
    // txn-tagged increment) breaks the hash.
    Q("q_tx_append_indexed",
      Some("""SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents WHERE doc_id BETWEEN 50 AND 650
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.readRangeOf(s,
          ensureTxAppendIndexed(s, dir), "doc_id", 50L, 650L)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // SMALL-FILE COMPACTION end-to-end: a clustered base plus six tiny
    // appends was bin-packed by compactSmall — the packed head must be
    // byte-equal to the source union (the oracle recomputes it) and a
    // doc_id range must still prune from the CARRIED base stats while
    // including the packed tail's matching rows.
    Q("q_tx_compact_small",
      Some("""SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents WHERE doc_id BETWEEN 100 AND 700
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.readRangeOf(s,
          ensureTxCompactSmall(s, dir), "doc_id", 100L, 700L)
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // RETENTION end-to-end: after expireHistory(keepVersions = 2) +
    // vacuum, the head (four doc_id%5 slices) must still read in full
    // from the truncated log — including the compacted file whose
    // adding record was expired (only the cutoff checkpoint names it:
    // an unwidened vacuum reachability would have deleted it) — and
    // time travel to exactly the cutoff version must still resolve
    // from the checkpoint alone.
    Q("q_tx_retention",
      Some("""WITH v4 AS (SELECT source, n_chars FROM documents
                          WHERE doc_id % 5 IN (0, 1, 2)),
                   hd AS (SELECT source, n_chars FROM documents
                          WHERE doc_id % 5 IN (0, 1, 2, 3))
              SELECT 'cutoff' AS phase, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM v4 GROUP BY 2
              UNION ALL
              SELECT 'head' AS phase, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM hd GROUP BY 2
              ORDER BY phase, source"""),
      (s, dir) => {
        val p = ensureTxRetention(s, dir)
        graft.api.TxTable.readVersion(s, p, 4)
          .withColumn("phase", lit("cutoff"))
          .unionByName(graft.api.TxTable.read(s, p)
            .withColumn("phase", lit("head")))
          .groupBy("phase", "source")
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .orderBy("phase", "source")
      }),

    // Transactional RESTORE: the restore demo table wrote the doc_id%2
    // slice (v1), overwrote it with a different slice (v2), then rolled
    // back with restore(1) — a METADATA-ONLY commit re-referencing v1's
    // immutable files (TxTableSpec pins that no data was copied). The
    // head must read exactly the v1 predicate again; serving v2's
    // content, or a restore that re-staged different bytes, breaks the
    // hash.
    Q("q_tx_restore",
      Some("""SELECT source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents WHERE doc_id % 2 = 0
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => graft.api.TxTable.read(s, ensureTxRestore(s, dir))
        .groupBy("source")
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("source")),

    // Transactional CHANGE DATA FEED: row-level diffs between commits,
    // computed from the symmetric difference of the two versions' FILE
    // sets (immutable files shared by both versions cancel unread —
    // the increment-proportional CDC shape). Window w12 spans the 10%
    // append (pure inserts); window w23 spans the compact, which
    // rewrote every file but changed NO rows — any row it leaks into
    // either window breaks the hash, because the oracle derives w12
    // from the append predicate and contributes nothing for w23.
    Q("q_tx_cdf",
      Some("""SELECT 'w12' AS w, 'insert' AS change, source,
                     count(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM documents WHERE doc_id % 10 = 0
              GROUP BY 3 ORDER BY w, change, source"""),
      (s, dir) => {
        val tbl = ensureTx(s, dir)
        graft.api.TxTable.changes(s, tbl, 1, 2).withColumn("w", lit("w12"))
          .unionByName(
            graft.api.TxTable.changes(s, tbl, 2, 3).withColumn("w", lit("w23")))
          .groupBy(col("w"), col("_change").as("change"), col("source"))
          .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
          .orderBy("w", "change", "source")
      }),

    // Transactional ROW-LEVEL change data feed with UPDATE IMAGES: the
    // upsert table's v2 merge and v3 delete ran with cdf = true, so
    // the commit log carries staged change rows — update_preimage /
    // update_postimage pairs for every matched key, inserts for
    // unmatched updates, deletes with the removed rows' full content.
    // changesRows(1, 3) reads them back from increment-sized files
    // (never the table); the oracle replays the SAME merge/delete
    // algebra over the source table, so a missing image, a mis-tagged
    // row, or a feed that described a head the commit didn't rewrite
    // all break the hash.
    Q("q_tx_cdf_rows",
      Some("""WITH upd AS (
                SELECT doc_id, text, lang, 'merged' AS source,
                       n_chars + 1 AS n_chars
                FROM documents WHERE doc_id % 7 = 0
                UNION ALL
                SELECT doc_id + 1000000, text, lang, 'inserted', n_chars
                FROM documents WHERE doc_id % 13 = 0),
              head AS (
                SELECT d.doc_id, d.source, d.n_chars FROM documents d
                WHERE d.doc_id NOT IN (SELECT doc_id FROM upd)
                UNION ALL SELECT doc_id, source, n_chars FROM upd),
              feed AS (
                SELECT CAST(2 AS BIGINT) AS _version,
                       'update_preimage' AS change, source, n_chars
                FROM documents WHERE doc_id % 7 = 0
                UNION ALL
                SELECT 2, 'update_postimage', 'merged', n_chars + 1
                FROM documents WHERE doc_id % 7 = 0
                UNION ALL
                SELECT 2, 'insert', 'inserted', n_chars
                FROM documents WHERE doc_id % 13 = 0
                UNION ALL
                SELECT 3, 'delete', source, n_chars
                FROM head WHERE doc_id % 11 = 0)
              SELECT _version, change, source, count(*) AS n,
                     CAST(SUM(n_chars) AS BIGINT) AS chars
              FROM feed GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""),
      (s, dir) => graft.api.TxTable.changesRows(s, ensureTxUpsert(s, dir), 1, 3)
        .groupBy(col("_version"), col("_change").as("change"), col("source"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("_version", "change", "source"))
  )

  /** Build the demo TxTable once per (session, sf dir), cross-process
    * cached as a build-cache entry: v1 overwrite = 90% of documents,
    * v2 append = the rest, v3 compact, then vacuum. The version
    * numbering is part of the queries' contract (q_tx_timetravel reads
    * v1); every build starts from an empty directory, so no stale log
    * can renumber history.
    */
  private def ensureTxBase(s: SparkSession, dir: String): String =
    ensure(s, dir, "txtable") { base =>
      import graft.api.TxTable
      val docs = t(s, dir, "documents")
      // table "t": overwrite -> append -> compact (q_tx_timetravel /
      // q_tx_acid / q_tx_cdf); table "u": merge upsert + transactional
      // delete (q_tx_upsert)
      val table = s"$base/t"
      TxTable.overwrite(s, table, docs.filter(col("doc_id") % 10 =!= 0))
      TxTable.append(s, table, docs.filter(col("doc_id") % 10 === 0))
      TxTable.compact(s, table, numFiles = 4)
      TxTable.vacuum(s, table)
      val up = s"$base/u"
      TxTable.overwrite(s, up, docs)
      val updates = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("source", lit("merged"))
        .withColumn("n_chars", col("n_chars") + 1)
        .unionByName(docs.filter(col("doc_id") % 13 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000)
          .withColumn("source", lit("inserted")))
      // cdf = true: v2 (merge) and v3 (delete) stage row-level change
      // data — both update images — that q_tx_cdf_rows reads back
      TxTable.merge(s, up, updates, Seq("doc_id"), cdf = true)
      TxTable.deleteWhere(s, up, col("doc_id") % 11 === 0, cdf = true)
      // table "c": clustered by doc_id with per-file (lo, hi) stats in
      // the commit log (q_tx_skipping reads a range through the
      // log-level file pruning path)
      TxTable.overwriteClustered(s, s"$base/c", docs, "doc_id",
        numFiles = 8)
      // table "z": orders z-ordered by (o_custkey, o_orderkey) with
      // per-file 2-D stats in the commit log (q_tx_zbox reads a box
      // through the multi-dimensional pruning path)
      TxTable.overwriteZordered(s, s"$base/z", t(s, dir, "orders"),
        "o_custkey", "o_orderkey", numFiles = 8)
      // table "z3": lineitem z-ordered in THREE dimensions
      // (l_partkey, l_suppkey, l_orderkey) — per-file (lo, hi) for all
      // three in the commit log (q_tx_zbox3 reads a 3-D box through the
      // multi-dimensional pruning path); bits = 0 auto-picks the widest
      // interleave that fits a non-negative BIGINT (16 at n=3)
      TxTable.overwriteZordered(s, s"$base/z3", t(s, dir, "lineitem"),
        Seq("l_partkey", "l_suppkey", "l_orderkey"), numFiles = 8, bits = 0)
      // table "p": orders range-clustered by o_custkey with a per-file
      // BLOOM of the secondary key o_orderkey in the commit log
      // (q_tx_point probes equality on the non-cluster key through the
      // bloom pruning path)
      TxTable.overwriteClustered(s, s"$base/p", t(s, dir, "orders"),
        "o_custkey", numFiles = 8, bloomCol = Some("o_orderkey"))
      // table "r": restore demo — v1 = doc_id%2 slice, v2 = a different
      // slice, v3 = restore(1), a metadata-only rollback (q_tx_restore
      // reads the head; TxTableSpec pins that restore staged no data)
      val rt = s"$base/r"
      TxTable.overwrite(s, rt, docs.filter(col("doc_id") % 2 === 0))
      TxTable.overwrite(s, rt, docs.filter(col("doc_id") % 5 === 0))
      TxTable.restore(s, rt, 1)
      // table "d": orders clustered by the TEMPORAL column o_orderdate
      // (timestamp_ntz) — per-file wall-clock-micros (lo, hi) in the
      // commit log, the 100-TB-typical `WHERE event_date >= X` pruning
      // shape (q_tx_date reads a year through the pushed-filter path)
      TxTable.overwriteClustered(s, s"$base/d", t(s, dir, "orders"),
        "o_orderdate", numFiles = 8)
      // table "s": orders clustered by the STRING column
      // o_orderpriority — per-file TRUNCATED string bounds (base64 in
      // the commit log; Iceberg's truncate shape) prune pushed string
      // ranges/equalities (q_tx_strkey reads one priority class)
      TxTable.overwriteClustered(s, s"$base/s", t(s, dir, "orders"),
        "o_orderpriority", numFiles = 8)
      // table "o": written PLAIN (no clustering), then OPTIMIZE'd to a
      // doc_id range-cluster IN PLACE — one conflict-safe overwrite
      // commit whose typed stats light up log pruning on a table that
      // had none (q_tx_optimize reads a range through it; time travel
      // to the pre-optimize layout stays intact)
      val ot = s"$base/o"
      TxTable.overwrite(s, ot, docs)
      TxTable.optimize(s, ot, Seq("doc_id"), numFiles = 8)
      // table "zd": orders z-ordered by the TEMPORAL pair
      // (o_orderdate, o_custkey) — the canonical 100-TB events layout;
      // per-file rectangles in wall-clock-micros x id space, so a
      // pushed time-window x customer-range box prunes from the log
      // (q_tx_zdate)
      TxTable.overwriteZordered(s, s"$base/zd", t(s, dir, "orders"),
        Seq("o_orderdate", "o_custkey"), numFiles = 8, bits = 0)
      // table "e": ADDITIVE SCHEMA EVOLUTION — v1 = the doc_id%3=0
      // slice in the base shape, v2 = evolveAppend of the %3=1 slice
      // carrying a new `q` column; the commit log records the widened
      // schema, so v1's files read back with q null-filled while
      // time travel to v1 still reads the ORIGINAL shape (q_tx_evolve
      // checks both snapshots against the oracle's union semantics)
      val et = s"$base/e"
      TxTable.overwrite(s, et, docs.filter(col("doc_id") % 3 === 0)
        .select("doc_id", "source", "n_chars"))
      TxTable.evolveAppend(s, et, docs.filter(col("doc_id") % 3 === 1)
        .select(col("doc_id"), col("source"), col("n_chars"),
          (col("doc_id") * 7 % 100).as("q")))
      // table "sq": SQL DML through the registered CATALOG table —
      // CREATE TABLE ... USING txtable, then INSERT INTO (one append
      // commit) and INSERT OVERWRITE (one overwrite commit ON THE SAME
      // LOG). Both statements must plan as V1 writes through the commit
      // log, never Spark's native file write (which deletes the table
      // root on overwrite — TxTableSpec pins the routing and log
      // survival); q_tx_sql_dml then replays BOTH snapshots from the
      // surviving history, so a mis-routed INSERT (lost log, unlogged
      // files, wrong version numbering) breaks the hash.
      val sq = s"$base/sq"
      val sqCols = docs.select("doc_id", "source", "n_chars")
      TxTable.overwrite(s, sq, sqCols.filter(col("doc_id") % 3 === 0))
      sqCols.createOrReplaceTempView("graft_txdml_src")
      s.sql("DROP TABLE IF EXISTS graft_txdml")
      s.sql(s"CREATE TABLE graft_txdml USING txtable LOCATION '$sq'")
      s.sql("INSERT INTO graft_txdml SELECT doc_id, source, n_chars " +
        "FROM graft_txdml_src WHERE doc_id % 3 = 1")
      s.sql("INSERT OVERWRITE graft_txdml SELECT doc_id, source, n_chars " +
        "FROM graft_txdml_src WHERE doc_id <= 500")
      s.sql("DROP TABLE IF EXISTS graft_txdml")
      s.catalog.dropTempView("graft_txdml_src")
      // table "ct": the DSv2 CATALOG DML walk — CTAS through
      // graft.api.TxCatalog (create + append commits), then SQL UPDATE
      // (group-based copy-on-write rewrite), MERGE INTO with update +
      // insert clauses (runtime group filtering bounds the rewrite),
      // and a DELETE whose modulo predicate cannot round-trip to a V1
      // filter — the row-level DELETE fallback. Four DML statements,
      // four commits on one log; q_tx_catalog_dml replays the final
      // head against the oracle's algebra over the source table, so a
      // wrong rewrite (lost unmatched rows in a touched file, doubled
      // inserts, mis-scoped delete) breaks the hash.
      // one catalog name PER BASE DIR: Spark caches catalog plugin
      // instances by name, so a second base (another sf dir in the
      // same JVM) must not inherit the first base's warehouse
      val ctCat = "graft_tx_" + java.lang.Integer.toHexString(base.hashCode)
      s.conf.set(s"spark.sql.catalog.$ctCat", "graft.api.TxCatalog")
      s.conf.set(s"spark.sql.catalog.$ctCat.warehouse", base)
      docs.select("doc_id", "source", "n_chars")
        .createOrReplaceTempView("graft_ct_src")
      s.sql(s"CREATE TABLE $ctCat.ct AS SELECT doc_id, source, n_chars " +
        "FROM graft_ct_src WHERE doc_id % 3 = 0")
      s.sql(s"UPDATE $ctCat.ct SET n_chars = n_chars + 10 " +
        "WHERE doc_id % 9 = 0")
      s.sql(s"""MERGE INTO $ctCat.ct t USING (
                 SELECT doc_id, 'm' AS source, n_chars * 2 AS n_chars
                 FROM graft_ct_src WHERE doc_id % 6 = 0
                 UNION ALL
                 SELECT doc_id, source, n_chars
                 FROM graft_ct_src WHERE doc_id % 3 = 1) s
               ON t.doc_id = s.doc_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"DELETE FROM $ctCat.ct WHERE n_chars % 7 = 0")
      // table "rw": CONDITIONAL OVERWRITE — a doc_id-clustered base,
      // then SQL `INSERT INTO ... REPLACE WHERE doc_id <= 300` swaps
      // exactly that slice (the even half, tripled chars) in ONE
      // commit; files above the slice carry by reference
      // (q_tx_replace_where replays the head; TxReplaceWhereSpec pins
      // the one-commit shape and the carry).
      val rwt = s"$base/rw"
      TxTable.overwriteClustered(s, rwt,
        docs.select("doc_id", "source", "n_chars"), "doc_id", numFiles = 8)
      s.sql(s"INSERT INTO $ctCat.rw REPLACE WHERE doc_id <= 300 " +
        "SELECT doc_id, 'r' AS source, n_chars * 3 AS n_chars " +
        "FROM graft_ct_src WHERE doc_id <= 300 AND doc_id % 2 = 0")
      // tables "sm"/"smd": the CATALOG STREAMING pipeline —
      // readStream.table (main-table append feed) -> writeStream
      // .toTable (txn-tagged epochs), drained twice: drain 1 serves
      // the load snapshot (CTAS slice + one INSERT), then an UPDATE
      // lands (a CHANGE commit the main feed must NOT stream), another
      // INSERT and a compact land, and drain 2 with skipChangeCommits
      // streams ONLY the new append (compact = zero rows). The
      // downstream head therefore carries the three slices at their
      // ORIGINAL values — q_tx_stream_main's oracle derives exactly
      // that, so a feed that replayed the snapshot twice, streamed the
      // update, or missed the incremental append breaks the hash.
      s.sql(s"CREATE TABLE $ctCat.sm AS SELECT doc_id, source, n_chars " +
        "FROM graft_ct_src WHERE doc_id % 4 = 0")
      s.sql(s"INSERT INTO $ctCat.sm SELECT doc_id, source, n_chars " +
        "FROM graft_ct_src WHERE doc_id % 4 = 1")
      // CTAS-empty so smd's schema matches the source EXACTLY
      // (declaring types by hand would break if the generator's
      // n_chars width ever changes)
      s.sql(s"CREATE TABLE $ctCat.smd AS SELECT doc_id, source, n_chars " +
        "FROM graft_ct_src WHERE 1 = 0")
      def drainMain(skip: Boolean): Unit = {
        val r = s.readStream
        val q = (if (skip) r.option("skipChangeCommits", "true") else r)
          .table(s"$ctCat.sm")
          .writeStream.option("checkpointLocation", s"$base/smk")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$ctCat.smd")
        q.awaitTermination()
      }
      drainMain(skip = false)
      s.sql(s"UPDATE $ctCat.sm SET n_chars = n_chars + 100 " +
        "WHERE doc_id % 8 = 0")
      s.sql(s"INSERT INTO $ctCat.sm SELECT doc_id, source, n_chars " +
        "FROM graft_ct_src WHERE doc_id % 4 = 2")
      s.sql(s"CALL $ctCat.system.compact(table => 'sm', num_files => 2)")
      drainMain(skip = true)
      s.catalog.dropTempView("graft_ct_src")
      // table "dv": MERGE-ON-READ position deletes (Iceberg v2 shape)
      // — a doc_id-clustered base, then deleteWhereDv (every
      // n_chars%5=0 row dies as (file, position) parquet, NO data file
      // rewritten) and updateWhereDv (live doc_id%11=0 rows die as
      // positions while their updated images append) — two `dv`
      // commits whose head q_tx_dv replays against the oracle algebra:
      // a position off by one, a resurrected row, or a doubled image
      // breaks the hash.
      val dvt = s"$base/dv"
      TxTable.overwriteClustered(s, dvt,
        docs.select("doc_id", "source", "n_chars"), "doc_id", numFiles = 8)
      TxTable.deleteWhereDv(s, dvt, col("n_chars") % 5 === 0)
      TxTable.updateWhereDv(s, dvt, col("doc_id") % 11 === 0,
        Map("source" -> lit("d"), "n_chars" -> (col("n_chars") + 7)))
      // table "cd": the SAME catalog DML walk as "ct", routed
      // MERGE-ON-READ (dv_dml): SQL UPDATE plans the DELTA row-level
      // operation (ONE `dv` commit of position deletes + updated
      // images, no data file rewritten), MERGE INTO likewise, and the
      // DELETE's modulo predicate cannot round-trip to a V1 filter so
      // the row-level fallback ALSO lands as a delta commit.
      // q_tx_dv_dml replays the head against the SAME oracle algebra
      // as q_tx_catalog_dml — route parity proven by hash equality.
      val dvCat = "graft_txdv_" + java.lang.Integer.toHexString(base.hashCode)
      s.conf.set(s"spark.sql.catalog.$dvCat", "graft.api.TxCatalog")
      s.conf.set(s"spark.sql.catalog.$dvCat.warehouse", base)
      s.conf.set(s"spark.sql.catalog.$dvCat.dv_dml", "true")
      docs.select("doc_id", "source", "n_chars")
        .createOrReplaceTempView("graft_cd_src")
      s.sql(s"CREATE TABLE $dvCat.cd AS SELECT doc_id, source, n_chars " +
        "FROM graft_cd_src WHERE doc_id % 3 = 0")
      s.sql(s"UPDATE $dvCat.cd SET n_chars = n_chars + 10 " +
        "WHERE doc_id % 9 = 0")
      s.sql(s"""MERGE INTO $dvCat.cd t USING (
                 SELECT doc_id, 'm' AS source, n_chars * 2 AS n_chars
                 FROM graft_cd_src WHERE doc_id % 6 = 0
                 UNION ALL
                 SELECT doc_id, source, n_chars
                 FROM graft_cd_src WHERE doc_id % 3 = 1) s
               ON t.doc_id = s.doc_id
               WHEN MATCHED THEN UPDATE SET *
               WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"DELETE FROM $dvCat.cd WHERE n_chars % 7 = 0")
      s.catalog.dropTempView("graft_cd_src")
      // table "rn": COLUMN MAPPING (ALTER TABLE RENAME/DROP COLUMN,
      // the Delta name-mapping shape) — CTAS, then RENAME n_chars →
      // chars (metadata-only; the physical name in every file stays
      // n_chars), an UPDATE over the RENAMED column (copy-on-write DML
      // through the mapping), DROP COLUMN source (bytes stay, column
      // retires), ADD COLUMN source back (fresh physical name — the
      // dropped values must NOT resurrect), and an INSERT in the new
      // shape. q_tx_rename replays the head against an oracle that
      // recomputes the algebra from the source parquet: a rename that
      // null-filled old files, an update that missed the mapping, or
      // a re-add that resurrected dropped bytes all break the hash.
      val rnCat = "graft_txrn_" + java.lang.Integer.toHexString(base.hashCode)
      s.conf.set(s"spark.sql.catalog.$rnCat", "graft.api.TxCatalog")
      s.conf.set(s"spark.sql.catalog.$rnCat.warehouse", base)
      docs.select("doc_id", "source", "n_chars")
        .createOrReplaceTempView("graft_rn_src")
      s.sql(s"CREATE TABLE $rnCat.rn AS SELECT doc_id, source, n_chars " +
        "FROM graft_rn_src WHERE doc_id % 4 = 0")
      s.sql(s"ALTER TABLE $rnCat.rn RENAME COLUMN n_chars TO chars")
      s.sql(s"UPDATE $rnCat.rn SET chars = chars + 5 WHERE doc_id % 8 = 0")
      s.sql(s"ALTER TABLE $rnCat.rn DROP COLUMN source")
      s.sql(s"ALTER TABLE $rnCat.rn ADD COLUMN source STRING")
      s.sql(s"INSERT INTO $rnCat.rn SELECT doc_id, n_chars + 1 AS chars, " +
        "'rn' AS source FROM graft_rn_src WHERE doc_id % 4 = 1")
      s.catalog.dropTempView("graft_rn_src")
      // table "rt": RETENTION — five commits (overwrite, txn append,
      // compact, two appends), then expireHistory(keepVersions = 2)
      // truncates time travel below version 4 and an aged-out vacuum
      // collects the expired versions' exclusive files (the live
      // compacted file survives via the cutoff checkpoint's
      // references). q_tx_retention replays the head AND the cutoff
      // version from the truncated log — an over-eager expiry (lost
      // live file, broken checkpoint fold) or an under-eager one
      // breaks the hash; TxTableSpec pins the lifecycle itself.
      val ret = s"$base/rt"
      val rcols = docs.select("doc_id", "source", "n_chars")
      TxTable.overwrite(s, ret, rcols.filter(col("doc_id") % 5 === 0))
      TxTable.append(s, ret, rcols.filter(col("doc_id") % 5 === 1),
        txn = Some("retain:1"))
      TxTable.compact(s, ret, numFiles = 2)
      TxTable.append(s, ret, rcols.filter(col("doc_id") % 5 === 2))
      TxTable.append(s, ret, rcols.filter(col("doc_id") % 5 === 3))
      TxTable.expireHistory(s, ret, keepVersions = 2)
      TxTable.vacuum(s, ret, olderThanMs = 0)
      // table "cs": SMALL-FILE COMPACTION — a doc_id-clustered base
      // plus six tiny streaming-style appends, bin-packed by
      // compactSmall (base files carried by reference, the tail packed;
      // TxTableSpec pins the carry itself). q_tx_compact_small reads a
      // range THROUGH the packed head: the carried stats must still
      // prune and the packed content must be byte-equal to the source
      // union, or the hash breaks.
      val cs = s"$base/cs"
      val ccols = docs.select("doc_id", "source", "n_chars")
      TxTable.overwriteClustered(s, cs,
        ccols.filter(col("doc_id") % 3 =!= 2), "doc_id", numFiles = 4)
      (0 until 6).foreach(i =>
        TxTable.append(s, cs, ccols.filter(col("doc_id") % 3 === 2 &&
          expr(s"(doc_id div 3) % 6 = $i"))))
      // pack threshold = the smallest BASE file: every clustered base
      // file carries (>= threshold) while the tail appends (each ~a
      // third of a base file's rows) pack, at any scale factor
      val hfsCs = graft.api.Dedup.hadoopFs(s, cs)
      val baseMin = TxTable.readVersion(s, cs, 1).inputFiles.map(p =>
        hfsCs.getFileStatus(new org.apache.hadoop.fs.Path(p)).getLen).min
      TxTable.compactSmall(s, cs, minFileBytes = baseMin)
      // table "ai": INDEXED INGEST — a doc_id-clustered base plus two
      // appendClustered increments, each landing range-sorted with its
      // own footer ranges in the commit log, so pruning keeps working
      // over ingest (q_tx_append_indexed reads a range spanning the
      // base and ONE increment; TxTableSpec pins the pruning itself).
      val ai = s"$base/ai"
      val aiCols = docs.select("doc_id", "source", "n_chars")
      TxTable.overwriteClustered(s, ai,
        aiCols.filter(col("doc_id") % 3 === 0), "doc_id", numFiles = 4)
      TxTable.appendClustered(s, ai, aiCols.filter(col("doc_id") % 3 === 1),
        numFiles = 2)
      TxTable.appendClustered(s, ai, aiCols.filter(col("doc_id") % 3 === 2),
        txn = Some("ingest:2"), numFiles = 2)
      // tables "ps"/"pd" + cursor "pc": the END-TO-END CDC PIPELINE —
      // pollChanges (consumer cursor) -> transform -> EXACTLY-ONCE
      // txn-tagged append into a downstream audit table, one poll per
      // upstream commit, with a simulated crash-redelivery in window 2
      // (processed twice, acked once — the txn id must land it once or
      // q_tx_pipeline's oracle breaks on doubled counts).
      val psrc = s"$base/ps"; val pdst = s"$base/pd"; val pcur = s"$base/pc"
      def pipePoll(): Unit = {
        val p = TxTable.pollChanges(s, psrc, pcur)
        if (p.toVersion > p.fromVersion) {
          TxTable.append(s, pdst, p.changes, txn = Some(s"cdc:${p.toVersion}"))
          p.ack()
        }
      }
      TxTable.overwrite(s, psrc, docs.filter(col("doc_id") % 4 === 0)
        .select("doc_id", "source", "n_chars"))
      pipePoll() // window (0,1]: creation inserts
      TxTable.append(s, psrc, docs.filter(col("doc_id") % 4 === 1)
        .select("doc_id", "source", "n_chars"))
      // window (1,2] with a crash BEFORE the ack: process, "crash",
      // re-poll the SAME window, process again — the second landing is
      // a txn-idempotent no-op, then ack
      val crash = TxTable.pollChanges(s, psrc, pcur)
      TxTable.append(s, pdst, crash.changes,
        txn = Some(s"cdc:${crash.toVersion}"))
      pipePoll() // the redelivery: same window, same txn, lands nothing
      TxTable.deleteWhere(s, psrc, col("n_chars") % 5 === 0, cdf = true)
      pipePoll() // window (2,3]: row-level deletes from the cdf staging
      // table "sd": the SAME upstream consumed through the STREAMING
      // pipe — readStream.format("txtable") (change-feed source, one
      // AvailableNow batch over (0, head]) into the txtable SINK
      // (txn-tagged appends). Its head must carry the identical change
      // history q_tx_pipeline's oracle derives (q_tx_stream_pipe).
      val q = s.readStream.format("txtable").load(psrc)
        .writeStream.format("txtable")
        .option("appId", "streampipe")
        .option("checkpointLocation", s"$base/sck")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(s"$base/sd")
      q.awaitTermination()
      ()
    }

  private def ensureTx(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/t"

  private[graft] def ensureTxUpsert(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/u"

  private[graft] def ensureTxClustered(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/c"

  private[graft] def ensureTxDate(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/d"

  private[graft] def ensureTxEvolve(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/e"

  private[graft] def ensureTxPipeline(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/pd"

  private[graft] def ensureTxStr(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/s"

  private[graft] def ensureTxStreamPipe(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/sd"

  private[graft] def ensureTxOptimize(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/o"

  private[graft] def ensureTxZdate(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/zd"

  private[graft] def ensureTxZordered(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/z"

  private[graft] def ensureTxZordered3(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/z3"

  private[graft] def ensureTxBloom(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/p"

  private[graft] def ensureTxRestore(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/r"

  private[graft] def ensureTxSqlDml(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/sq"

  private[graft] def ensureTxCatalogDml(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/ct"

  private[graft] def ensureTxReplaceWhere(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/rw"

  private[graft] def ensureTxStreamMain(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/smd"

  private[graft] def ensureTxDv(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/dv"
  private[graft] def ensureTxDvDml(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/cd"

  private[graft] def ensureTxRename(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/rn"

  private[graft] def ensureTxRetention(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/rt"

  private[graft] def ensureTxCompactSmall(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/cs"

  private[graft] def ensureTxAppendIndexed(s: SparkSession, dir: String): String =
    ensureTxBase(s, dir) + "/ai"
}
