package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed (pre-partitioned, pre-sorted) tables: the shuffle-elision
  * path for repeated large-table joins and aggregations.
  *
  * At 100 TB, a fact⋈fact join shuffles both sides on every query. The
  * reference re-materializes every step as flat parquet
  * (/root/reference/src/shelf/tables.py:60-66) and so pays the
  * equivalent cost (a full DuckDB re-partition) per query. Writing the
  * fact tables ONCE bucketed+sorted by their join key makes every later
  * join/agg on that key shuffle-free AND sort-free: Catalyst matches the
  * table's `HashPartitioning(key, n)` output partitioning against the
  * join's required distribution and plans a zero-exchange SortMergeJoin.
  *
  * Scale contract: bucket count is chosen once per table family and
  * must divide evenly into executor parallelism; both join sides must
  * use the SAME count (Spark 3.1+ can coalesce mismatched buckets, but
  * same-count is the predictable path).
  */
object Bucketing {

  /** Write `df` as a bucketed+sorted external table; idempotent per
    * session. Returns the table name to read back.
    *
    * When `srcPaths` names the source files `df` is a deterministic
    * function of, the write is ALSO idempotent across processes: the
    * table files are a [[BuildCache]] entry keyed by (name, key,
    * buckets, `ver`, the sources' fingerprint), and a later process
    * whose sources are unchanged ATTACHES them via CREATE TABLE ...
    * CLUSTERED BY DDL ([[Dedup.attachBucketed]]) instead of
    * re-shuffling and rewriting the table — at 100 TB the difference
    * between a metadata check and a full re-bucketing pass. `df` is
    * by-name, so the attach path never even plans it. With `srcPaths`
    * empty (or a source absent) the table is rewritten per session.
    * `ver` is the caller's recipe version: bump it when the derivation
    * of `df` changes without the source files changing.
    */
  def ensureBucketed(s: SparkSession, sfDir: String, name: String,
                     df: => DataFrame, key: String,
                     buckets: Int = 8, srcPaths: Seq[String] = Nil,
                     ver: Int = 1): String =
    // one SessionMemo entry per (session, sfDir, name): concurrent
    // queries (q_join_bucketed ∥ q_agg_bucketed in Bench) wait for one
    // table write instead of racing it, while other tables write in
    // parallel
    SessionMemo(s, "bucketing.table", (sfDir, name)) {
      val loc = BuildCache(s, s"bk_$name", ver, srcPaths, sfDir,
          Seq("key" -> key, "buckets" -> buckets)) { dir =>
        // staging names are publisher-unique, so the stage table is too
        val stage = s"graft_bk_${name}_stage_${BuildCache.tagOf(dir)}"
        try df.write.format("parquet").bucketBy(buckets, key).sortBy(key)
          .option("path", dir).mode("overwrite").saveAsTable(stage)
        finally s.sql(s"DROP TABLE IF EXISTS $stage")
      }
      Dedup.attachBucketed(s, s"graft_bk_${name}_${BuildCache.tagOf(loc)}",
        loc, Seq(key), buckets)
    }

  /** orders⋈customer on custkey with both sides bucketed on the join
    * key: zero-shuffle, zero-sort SortMergeJoin (asserted by
    * BucketingSpec on the executed plan).
    */
  def colocatedOrdersCustomer(s: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.H.t
    val ot = ensureBucketed(s, sfDir, "orders",
      t(s, sfDir, "orders"), "o_custkey",
      srcPaths = Seq(s"$sfDir/orders.parquet"))
    val ct = ensureBucketed(s, sfDir, "customer",
      t(s, sfDir, "customer"), "c_custkey",
      srcPaths = Seq(s"$sfDir/customer.parquet"))
    // `merge` hint pins SortMergeJoin so the bucket layout (not a
    // broadcast of the small test-SF dim) is what's exercised.
    s.table(ot).hint("merge")
      .join(s.table(ct), col("o_custkey") === col("c_custkey"))
  }

  /** Aggregation on the bucket key: partial+final agg collapse into one
    * stage with no exchange, because the scan already satisfies the
    * required `ClusteredDistribution(o_custkey)`.
    */
  def bucketedAgg(s: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.H.{t, dsum}
    val ot = ensureBucketed(s, sfDir, "orders",
      t(s, sfDir, "orders"), "o_custkey",
      srcPaths = Seq(s"$sfDir/orders.parquet"))
    s.table(ot)
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("total"))
  }
}
