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

  /** Scratch root shared by every persisted-index artifact. */
  private[graft] def scratchBase: String = base

  private def base: String =
    if (new java.io.File("/dev/shm").isDirectory) "/dev/shm/graft-bucketed"
    else sys.props("java.io.tmpdir") + "/graft-bucketed"

  /** Write `df` as a bucketed+sorted external table; idempotent per
    * session. Returns the table name to read back.
    *
    * When `srcPaths` names the source files `df` is a deterministic
    * function of, the write is ALSO idempotent across processes: a
    * `_GRAFT_FP` marker records the source fingerprint (sorted
    * path:len:mtime:edge-content listing; 128 KiB read per file) and a
    * later process whose
    * sources are unchanged ATTACHES the existing files via
    * CREATE TABLE ... CLUSTERED BY DDL (the [[graft.api.Dedup]] band-
    * index discipline) instead of re-shuffling and rewriting the table —
    * at 100 TB the difference between a metadata check and a full
    * re-bucketing pass. `df` is by-name, so the skip path never even
    * plans it. With `srcPaths` empty (or a source absent) the old
    * always-rewrite behavior is kept.
    *
    * Marker IO is java.nio by design: [[scratchBase]] is local by
    * construction (/dev/shm or java.io.tmpdir). If scratch ever moves
    * to a non-local FS, the cross-process skip silently never applies
    * (markerFresh reads nothing, every process rewrites) — route the
    * marker through the Hadoop FS at that point.
    */
  def ensureBucketed(s: SparkSession, sfDir: String, name: String,
                     df: => DataFrame, key: String,
                     buckets: Int = 8, srcPaths: Seq[String] = Nil,
                     ver: Int = 1): String = {
    // sha256-derived tag (Dedup.tableTag), NOT sfDir.hashCode: a 32-bit
    // hashCode collision between two sf dirs would alias their catalog
    // table names — the same failure mode the band-index tables already
    // guard against. (The fingerprint markers would still force a
    // rewrite on mismatch, but the in-catalog aliasing alone could
    // serve one dir's table for the other within a session.)
    val tag = Dedup.tableTag(sfDir)
    val tbl = s"graft_bk_${name}_$tag"
    // one SessionMemo entry per (session, sfDir, name), dropped at
    // Graft.clear: concurrent queries (q_join_bucketed ∥ q_agg_bucketed
    // in Bench) wait for one table write instead of racing it, while
    // other tables write in parallel
    SessionMemo.withRelease[String](s, "bucketing.table", (sfDir, name),
        t => { s.sql(s"DROP TABLE IF EXISTS $t"); () }) {
      val loc = s"$base/$tbl"
      // an ABSENT source must mean "never trust (or write) a marker"
      // — checked directly, because sourceFingerprint hashes absence
      // into a stable digest that a contains() check can never see
      // (a marker signed from absence would survive a later corpus
      // regeneration and serve a stale table forever). `ver` is the
      // caller's recipe version: bump it when the derivation of `df`
      // changes without the source files changing.
      val signable = srcPaths.nonEmpty && Dedup.sourcesPresent(s, srcPaths: _*)
      val fp = if (!signable) ""
        else s"v$ver:$buckets:$key:" + Dedup.sourceFingerprint(s, srcPaths: _*)
      val marker = java.nio.file.Paths.get(loc, "_GRAFT_FP")
      // data-present clause = true: the attach below Try-reads the
      // parquet schema, which already degrades cleanly to rebuild
      // when the files are gone
      val canAttach = signable && Dedup.markerFresh(marker, fp)(true)
      // a marker surviving a partial scratch cleanup (files gone) must
      // mean rebuild, not an AnalysisException — loadBandIndex's rule.
      // CREATE TABLE IF NOT EXISTS + one retry (the Dedup.attachBucketed
      // discipline), NOT tableExists-then-CREATE: two sessions sharing
      // one catalog racing that TOCTOU made the loser's Try fail and
      // silently fall through to a full re-shuffle rewrite instead of
      // a metadata attach.
      def attachOnce(): Unit = if (!s.catalog.tableExists(tbl)) {
        // `_`-prefixed marker is invisible to the schema read
        val schema = s.read.parquet(loc).schema.toDDL
        s.sql(s"CREATE TABLE IF NOT EXISTS $tbl ($schema) USING PARQUET " +
          s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS " +
          s"LOCATION '$loc'")
      }
      val attached = canAttach && scala.util.Try {
        try attachOnce() catch { case _: Exception => attachOnce() }
      }.isSuccess
      ScratchStats.record(s"bk_$name", sfDir, attached)
      if (!attached) {
        df.write
          .format("parquet")
          .bucketBy(buckets, key)
          .sortBy(key)
          .option("path", loc)
          .mode("overwrite")
          .saveAsTable(tbl)
        if (signable) Dedup.writeMarker(marker, fp)
      }
      tbl
    }
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
