package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Public similarity-search API over an embedding column
  * (array<float|double>). Brute-force is the exact baseline (one linear
  * scan per query batch, broadcast queries); IVF is the probed scale
  * path. All cosine math runs through the codegen'd native expression.
  */
object Similarity {

  /** `spread = true` (corpus/query-stream inputs): Par.spread repairs
    * narrow scans BEFORE the heavy vector math — per-row dot products /
    * projections are CPU-dense and a narrow scan would run them on 1-2
    * of N cores (profiled: 3.5 s single-task random projection at
    * sf≈1). The double-cast projects AFTER the spread, so the shuffle
    * carries the source (typically float) arrays at half the bytes and
    * the cast itself runs wide. `spread = false` for centroid / query
    * frames that are immediately collected or broadcast — shuffling a
    * handful of rows before a broadcast is pure waste.
    */
  private def prepared(vectors: DataFrame, idCol: String, vecCol: String,
                       spread: Boolean = true) = {
    graft.functions.VectorFunctions.register(vectors.sparkSession)
    graft.functions.VectorSumAgg.register(vectors.sparkSession)
    val raw = vectors.select(col(idCol).as("vec_id"), col(vecCol).as("_r"))
    // cast(array<float> AS array<double>) — identical element semantics
    // to transform(x -> cast(x)), but Cast is whole-stage-codegen'd (one
    // tight loop) while the HOF lambda evaluates INTERPRETED per
    // element; worse, a NamedLambdaVariable's value slot is shared
    // state, so under local[32] every element eval ping-pongs a cache
    // line across all task threads (profiled: the ivf_quant probe stage
    // fell from ~7 s task-CPU to well under 1 s on 2000 rows after
    // removing per-element lambdas from this path).
    (if (spread) Par.spread(raw) else raw)
      .select(col("vec_id"), col("_r").cast("array<double>").as("v"))
  }

  /** Per-group embedding centroids — the corpus-audit / mixing
    * diagnostic ("how far apart do my sources or classes sit, and is a
    * class drifting between snapshots"): one row per (group, dimension)
    * with the vector count and the mean component. Determinism: each
    * component is rounded at 6dp and summed in EXACT decimal (fp row
    * order never matters — the same per-term-round technique as the PMI
    * oracle), then one double divide. Scale shape: posexplode fans each
    * vector into dim rows, a single hash aggregation with map-side
    * combine collapses them to |groups|·dim rows — no window, no join,
    * one shuffle whose width is the OUTPUT size, not the corpus.
    */
  def groupCentroids(vectors: DataFrame, groupCol: String,
                     vecCol: String): DataFrame =
    vectors
      .select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(col(groupCol), col("pos"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("x").cast("double"), 6)
          .cast(org.apache.spark.sql.types.DecimalType(38, 6))).as("s"))
      // The mean is rounded to 6dp in EXACT INTEGER arithmetic: S =
      // micro-units of the exact decimal sum, then half-away-from-zero
      // division by n via (2|S| + n) div (2n). Rounding a double
      // quotient instead (ROUND(S/n, 6)) hit a real tie at sf0.1 —
      // one component of one centroid sat exactly on a 6dp half
      // boundary and Spark/DuckDB rounded it apart. Integer div has no
      // ties; the final /1e6 is one exact-input fp op on both engines.
      .withColumn("S", (col("s") * lit(1000000)).cast("long"))
      .select(col(groupCol), col("pos"), col("n"),
        expr("""CAST(CASE WHEN S < 0 THEN -((2 * (-S) + n) DIV (2 * n))
                          ELSE (2 * S + n) DIV (2 * n) END AS DOUBLE)
                / 1e6""").as("c"))

  /** Pairwise cosine between group centroids — the actionable half of
    * the centroid audit: which classes/sources overlap (candidates for
    * merging or dedup across them) and which sit far apart (mixing
    * weights actually diversify). Output is one row per UNORDERED pair
    * (g_a < g_b) — the strict upper triangle, ~|groups|²/2 rows, no
    * diagonal — over a |groups|·dim input; both sides of the self-join are
    * centroid-sized, so the whole plan is broadcast territory at any
    * corpus scale; the corpus itself was already reduced by
    * [[groupCentroids]]' single aggregation. Deterministic: centroid
    * components are 6dp-exact, vectors are reassembled in dimension
    * order, and the dot/norm folds run left-to-right over that order on
    * every engine (cosine rounded at 4dp).
    */
  def groupCentroidDistances(vectors: DataFrame, groupCol: String,
                             vecCol: String): DataFrame = {
    val cents = groupCentroids(vectors, groupCol, vecCol)
      .select(col(groupCol), col("pos"), col("c"))
      .groupBy(groupCol)
      .agg(array_sort(collect_list(struct(col("pos"), col("c"))))
        .as("pc"))
      .select(col(groupCol), expr("transform(pc, e -> e.c)").as("v"))
    graft.functions.VectorFunctions.register(vectors.sparkSession)
    val a = cents.select(col(groupCol).as("g_a"), col("v").as("va"))
    val b = cents.select(col(groupCol).as("g_b"), col("v").as("vb"))
    a.join(b, col("g_a") < col("g_b"))
      .select(col("g_a"), col("g_b"),
        round(expr("cosine_sim(va, vb)"), 4).as("cos"))
  }

  /** Exact top-k neighbors for one stored vector id. */
  def topK(vectors: DataFrame, idCol: String, vecCol: String,
           queryId: Long, k: Int): DataFrame = {
    val e = prepared(vectors, idCol, vecCol)
    val q = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    e.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q)) // bounded: 1 query row
      .withColumn("cos", expr("cosine_sim(v, qv)"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 4).as("cos"))
  }

  /** Exact batch kNN join: top-k corpus neighbors for every query row.
    * Queries are broadcast; the corpus streams once.
    */
  def knnJoin(vectors: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int): DataFrame = {
    val e = prepared(vectors, idCol, vecCol)
    val q = prepared(queries, idCol, vecCol, spread = false)
      .withColumnRenamed("vec_id", "qid").withColumnRenamed("v", "qv")
    val w = Window.partitionBy("qid").orderBy(col("cos").desc, col("vec_id"))
    e.crossJoin(broadcast(q)) // bounded: the caller's query batch
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", expr("cosine_sim(v, qv)"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("qid"), col("rnk"), col("vec_id"), round(col("cos"), 4).as("cos"))
  }

  /** Zero-shuffle nearest-centroid assignment: the k centroids are
    * folded into ONE array row (k×dim doubles — trivially broadcastable),
    * attached to the corpus with a broadcast nested-loop join (no
    * Exchange), and the argmax is a pure projection — an aggregate fold
    * over the centroid array. No corpus×k row blowup, no window
    * sort/shuffle: the assignment stage is a single narrow scan, which
    * is what an offline index build must be at 100 TB. Ties break to the
    * lowest cent_id (array_sort orders the fold by cent_id; the strict
    * `>` keeps the first maximum), matching the old window tiebreak.
    *
    * Cosine is THE metric — same expression as probe selection and
    * final ranking, so cell membership always agrees with query-time
    * scoring (a dot-product assignment disagrees with cosine ranking
    * whenever vector norms vary, silently costing recall).
    */
  private def assignNearest(e: DataFrame, cents: DataFrame): DataFrame = {
    val centArr = cents.agg(array_sort(collect_list(
      struct(col("cent_id").cast("long").as("cent_id"), col("cv").as("cv"))))
      .as("cents"))
    e.crossJoin(broadcast(centArr)) // bounded: 1 row of k centroids
      .withColumn("cent_id", expr("nearest_centroid(v, cents)"))
      .drop("cents")
  }

  /** IVF-style approximate top-k: assign vectors to their nearest
    * centroid, probe the query's nProbe nearest centroid partitions,
    * exact search within. Centroids come from the caller (k-means or any
    * deterministic pick); with a partitioned/bucketed corpus the probe
    * prunes ~ (1 - nProbe/nCentroids) of all IO.
    */
  def ivfTopK(vectors: DataFrame, centroids: DataFrame, idCol: String,
              vecCol: String, queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val cents = prepared(centroids, idCol, vecCol, spread = false)
      .withColumnRenamed("vec_id", "cent_id").withColumnRenamed("v", "cv")
    // Pin the inline-built index (the bucketed path has its own
    // materialization): the search consumes it THREE times (query-row
    // lookup, probe ranking via the query row, candidate stream), so
    // unpinned the assignment scan runs per consumer — and, subtler,
    // the probe join's inferred constraints re-expand the `cent_id`
    // alias into repeated `nearest_centroid(...)` evaluations per row
    // (measured 2x the stage CPU); against a cached index they are
    // plain stored-column filters.
    ivfSearch(pinned(ivfIndex(vectors, centroids, idCol, vecCol)), cents,
      queryId, k, nProbe)
  }

  /** MEMORY_AND_DISK pin for an index frame built inline by a
    * build-and-search convenience wrapper — a cache barrier: consumers
    * see stored columns (no re-expansion of assignment expressions into
    * join keys/filters) and the build scan runs once, not per consumer.
    */
  private def pinned(df: DataFrame): DataFrame =
    Pins.pin(df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The offline half of IVF: assign every vector to its nearest
    * centroid. At corpus scale this is written ONCE (ideally bucketed
    * on cent_id via [[graft.api.Bucketing]]) and searched many times —
    * the assignment scan must not be paid per query.
    */
  def ivfIndex(vectors: DataFrame, centroids: DataFrame, idCol: String,
               vecCol: String): DataFrame = {
    val e = prepared(vectors, idCol, vecCol)
    val cents = prepared(centroids, idCol, vecCol, spread = false)
      .withColumnRenamed("vec_id", "cent_id").withColumnRenamed("v", "cv")
    assignNearest(e, cents).select(col("vec_id"), col("v"), col("cent_id"))
  }

  /** The online half: pick the query's nProbe nearest cells, exact-rank
    * inside them. Touches ~nProbe/nCells of the index.
    */
  def ivfSearch(index: DataFrame, cents: DataFrame, queryId: Long,
                k: Int, nProbe: Int): DataFrame = {
    val qv = index.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val probes = cents.crossJoin(broadcast(qv)) // bounded: 1 query row
      .withColumn("cd", expr("cosine_sim(qv, cv)"))
      .orderBy(col("cd").desc, col("cent_id"))
      .limit(nProbe)
      .select(col("cent_id"))
    index.join(broadcast(probes), "cent_id") // bounded: nProbe cell ids
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qv)) // bounded: 1 query row
      .withColumn("cos", expr("cosine_sim(v, qv)"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cent_id"), round(col("cos"), 4).as("cos"))
  }

  /** Bump when the ivfIndex derivation changes shape — the build cache
    * must not serve an index built under an old recipe.
    */
  private val IvfIndexRecipeVersion = 1

  /** Materialize the IVF index as a bucketed+sorted external table on
    * `cent_id` — the production deployment shape: the index is written
    * ONCE, and every probe becomes a bucket-PRUNED scan (Spark's bucket
    * pruning turns a `cent_id IN (...)` filter into
    * `SelectedBucketsCount: nProbe of N` at the file-scan level), so
    * per-query IO is physically nProbe/nCells of the index — no
    * shuffle, no join, no full-index read. Idempotent per (session,
    * sfTag).
    */
  def ivfIndexBucketed(s: org.apache.spark.sql.SparkSession, sfTag: String,
                       vectors: DataFrame, centroids: DataFrame,
                       idCol: String, vecCol: String,
                       buckets: Int = 8,
                       srcPaths: Seq[String] = Nil): String =
    Bucketing.ensureBucketed(s, sfTag, "ivf_index",
      ivfIndex(vectors, centroids, idCol, vecCol), "cent_id", buckets,
      srcPaths, ver = IvfIndexRecipeVersion)

  /** Per-parent child sessions carrying the probe-scoped SQL conf, so a
    * library call never mutates the caller's ambient session state. A
    * child shares the SparkContext, external catalog, and cache with its
    * parent; only the SQLConf (and temp views / function registry) are
    * isolated — exactly the scope the probe flag needs.
    */
  private def probeSession(s: org.apache.spark.sql.SparkSession) =
    SessionMemo(s, "similarity.probe", ()) {
      val c = s.newSession()
      // DisableUnnecessaryBucketedScan only weighs distribution/ordering
      // needs, not bucket PRUNING — left on, a filter-only probe plans a
      // plain scan of every bucket ("disabled by query planner").
      c.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      graft.functions.VectorFunctions.register(c)
      c
    }

  /** Probe a bucketed index table. The query vector and the nProbe
    * winning cell ids are collected to the driver (dim doubles + nProbe
    * longs — query-plan metadata, like the centroids themselves) so the
    * cell filter is a LITERAL `IN`, which is what bucket pruning and
    * parquet row-group stats can act on; a join-based probe would read
    * every bucket. The pruned scan itself plans in a child session where
    * the autoBucketedScan flag is scoped — the returned DataFrame is
    * lazy, so a set/restore around this method would lose the pruning by
    * the time the query actually runs, and a bare `conf.set` would leak
    * the flag into every later query in the caller's session.
    */
  def ivfSearchPruned(s: org.apache.spark.sql.SparkSession, indexTable: String,
                      cents: DataFrame, queryId: Long, k: Int,
                      nProbe: Int): DataFrame = {
    graft.functions.VectorFunctions.register(s)
    val qvRows = s.table(indexTable)
      .filter(col("vec_id") === queryId)
      .select(col("v")).head(1)
    if (qvRows.isEmpty)
      // unknown query id → empty result (the lazy crossJoin form this
      // replaced flowed an absent id through to zero rows; keep that)
      return s.table(indexTable)
        .select(col("vec_id"), col("cent_id"),
          round(lit(0.0), 4).as("cos"))
        .limit(0)
    val qv: Seq[Double] = qvRows.head.getSeq[Double](0)
    val probeIds = cents
      .withColumn("qv", typedlit(qv))
      .withColumn("cd", expr("cosine_sim(cv, qv)"))
      .orderBy(col("cd").desc, col("cent_id"))
      .limit(nProbe)
      .select("cent_id").collect().map(_.getLong(0)).toSeq
    probeSession(s).table(indexTable)
      .filter(col("cent_id").isin(probeIds: _*))
      .filter(col("vec_id") =!= queryId)
      .withColumn("qv", typedlit(qv))
      .withColumn("cos", expr("cosine_sim(v, qv)"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cent_id"), round(col("cos"), 4).as("cos"))
  }

  /** Deterministic Lloyd's k-means over the embedding column — the
    * index-construction half of IVF. Init = the k lowest-id vectors
    * (deterministic; k-means++ would add an RNG the oracle story can't
    * carry). Each iteration is ONE distributed job: assign every vector
    * to its nearest centroid (the centroids ride along as a LITERAL
    * array — k×dim doubles of driver metadata, the same thing MLlib's
    * KMeans collects per round — so assignment is a pure projection with
    * no join and no lineage growth), then recompute means per
    * (centroid, dimension) via posexplode + two-phase avg — one shuffle
    * of k×dim cells after map-side combine, never a collect of the
    * CORPUS. Iteration count is fixed (index build is offline at scale;
    * convergence-checking adds a barrier per round for little value at
    * small `iters`).
    */
  def kmeansCentroids(vectors: DataFrame, idCol: String, vecCol: String,
                      k: Int, iters: Int = 3): DataFrame = {
    val spark = vectors.sparkSession
    import spark.implicits._
    val e = prepared(vectors, idCol, vecCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var cents: Seq[(Long, Seq[Double])] = e.orderBy("vec_id").limit(k)
      .select(col("vec_id").cast("long"), col("v"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    for (_ <- 0 until iters) {
      // one shuffle per round: the native vec_sum_agg sums vectors
      // elementwise in a primitive buffer (k×dim partials after map-side
      // combine) — no posexplode row blowup, no reassembly groupBy
      val updated = e
        .withColumn("cents", typedlit(cents.sortBy(_._1)))
        .withColumn("cent_id", expr("nearest_centroid(v, cents)"))
        .groupBy("cent_id")
        .agg(expr("vec_sum_agg(v)").as("sum_v"), count(lit(1)).as("n"))
        .select(col("cent_id"),
          expr("transform(sum_v, x -> x / CAST(n AS DOUBLE))").as("cv"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
      // empty-cell retention (MLlib's behavior): a cell that captured no
      // points this round keeps its previous centroid instead of
      // silently vanishing from the groupBy — k stays k, deterministic
      cents = cents.map { case (cid, cv) => (cid, updated.getOrElse(cid, cv)) }
    }
    e.unpersist()
    cents.sortBy(_._1).toDF("cent_id", "cv")
  }

  /** Sign-LSH (random hyperplane) bucket column: `bits` sign bits, each
    * the sign of a dot product with a pseudo-random ±1 hyperplane
    * derived from xxhash64(bit, dim) — deterministic, no stored
    * projection matrix, and a pure codegen expression per row.
    *
    * P[bit collision] = 1 - θ/π (Charikar'02), so cosine-close vectors
    * land in the same bucket with high probability. At corpus scale the
    * bucket id is the shuffle/bucketing key: candidate search touches
    * one bucket (+ optional multi-probe neighbors) instead of the
    * corpus.
    */
  private[api] def lshBucket(vecCol: String, bits: Int) =
    // ±1 component for (bit b, dim j): parity of the two-argument
    // xxhash64(b, j) — the seed space is the full (b, j) pair, so no
    // two (bit, dim) coordinates share a hyperplane component at ANY
    // dimensionality (a b*K+j encoding aliases once dim >= K, which
    // correlates LSH bits on e.g. 1536-dim embeddings). Deterministic
    // across executors. One codegen'd expression backed by a shared
    // static kernel (round 22): the previous SQL form expanded to
    // bits × (zip_with + transform + aggregate) interpreted lambdas
    // per row on the index-build pass — the one pass that touches
    // every corpus row. Hash chain, add order, and null/empty edge
    // cases are bit-identical (VectorKernels.lshBucket).
    expr(s"lsh_bucket($vecCol, $bits)")

  /** LSH-bucketed approximate top-k for one stored vector: candidates =
    * the query's bucket under `bits` sign bits (single-probe), exact
    * cosine rank within. The scale path when no centroid index exists:
    * bucketing is one narrow column write, and lookups are a bucket-key
    * equi-join instead of a scan.
    */
  def lshTopK(vectors: DataFrame, idCol: String, vecCol: String,
              queryId: Long, k: Int, bits: Int = 8): DataFrame = {
    // pinned: the bucketed frame is read twice (query row + stream),
    // and the bucket equi-join would otherwise re-expand the bits ×
    // dim interpreted lshBucket fold into its join key and inferred
    // constraints — against the cache it is a stored column.
    val e = pinned(prepared(vectors, idCol, vecCol)
      .withColumn("bucket", lshBucket("v", bits)))
    val q = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), col("bucket"))
    e.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= queryId)
      .withColumn("cos", expr("cosine_sim(v, qv)"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("bucket"), round(col("cos"), 4).as("cos"))
  }

  /** Multi-probe sign-LSH (the Hamming-1 ring of Lv et al., VLDB'07):
    * probe the query's own bucket PLUS the `bits` buckets differing in
    * exactly one sign bit — the near-miss buckets a borderline
    * hyperplane sends true neighbors to. A single sign flip is the
    * dominant miss mode (P ≈ bits·(θ/π)·(1−θ/π)^(bits−1) for close
    * pairs), so recall rises steeply for a (bits+1)× candidate cost —
    * still O(corpus·(bits+1)/2^bits) per probe, and the probe stays a
    * bucket-key equi-join (the ring is a broadcast of bits+1 longs).
    */
  def lshTopKMultiProbe(vectors: DataFrame, idCol: String, vecCol: String,
                        queryId: Long, k: Int, bits: Int = 8): DataFrame = {
    // pinned for the same reasons as [[lshTopK]]
    val e = pinned(prepared(vectors, idCol, vecCol)
      .withColumn("bucket", lshBucket("v", bits)))
    val ring = array(col("bucket") +:
      (0 until bits).map(b => col("bucket").bitwiseXOR(lit(1L << b))): _*)
    val q = e.filter(col("vec_id") === queryId)
      .select(col("v").as("qv"), explode(ring).as("bucket"))
    e.join(broadcast(q), "bucket")
      .filter(col("vec_id") =!= queryId)
      .withColumn("cos", expr("cosine_sim(v, qv)"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("bucket"), round(col("cos"), 4).as("cos"))
  }

  /** Symmetric per-vector int8 quantization: scale = max|v|/127, q_i =
    * floor(v_i/scale + 0.5) stored as TINYINT — a 4-8x cut of the index
    * footprint (and of the scan bandwidth every query pays), which is
    * the difference between an in-memory and a spilled ANN index at
    * corpus scale. `floor(x + 0.5)` rather than `round` because the two
    * engines' round() tie rules differ (HALF_UP vs banker's); the floor
    * form is one IEEE op sequence, bit-identical everywhere. Quantized
    * components are bounded in [-127, 127] by construction (x/scale
    * can exceed 127 only by an ulp, which +0.5 then floor absorbs), so
    * the TINYINT cast never overflows under ANSI. All-zero vectors get
    * scale 0 and an all-zero q (the CASE guard — a bare division would
    * be Infinity and the cast would throw).
    *
    * Returns (vec_id, q TINYINT[], scale DOUBLE). Cosine ranking needs
    * no dequantization — the per-vector scales cancel — so
    * [[quantizedTopK]] scores entirely in small exact integers.
    */
  def quantize(vectors: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val e = prepared(vectors, idCol, vecCol)
    // codegen'd kernels (vec_maxabs / quantize_i8): the quantization
    // pass IS a full-corpus scan at index-build time, and the HOF
    // formulation's interpreted lambdas dominated it on the 100x probe
    e.withColumn("scale", expr("vec_maxabs(v)") / lit(127.0))
      .select(col("vec_id"),
        expr("quantize_i8(v, scale)").as("q"),
        col("scale"))
  }

  /** Search a PREBUILT quantized index (the output of [[quantize]],
    * possibly persisted): the offline/online split at corpus scale —
    * the quantize scan is paid once at build, every query pays only
    * the 1-byte-wide streaming scan + the codegen'd integer kernel.
    */
  def quantizedSearch(index: DataFrame, queryId: Long, k: Int): DataFrame = {
    graft.functions.VectorFunctions.register(index.sparkSession)
    val q = index.filter(col("vec_id") === queryId).select(col("q").as("qq"))
    index.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q)) // bounded: 1 query row
      .withColumn("qcos", expr("cosine_sim_i8(q, qq)"))
      .orderBy(col("qcos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("qcos"), 4).as("qcos"))
  }

  /** Approximate top-k over the int8-quantized index: exact cosine of
    * the quantized vectors, scored by the codegen'd `cosine_sim_i8`
    * expression (one fused pass, no per-row array allocation — the HOF
    * formulation it replaces made this "cheap" scan 8× slower than the
    * exact one at the 100× probe). Dot products and squared norms are
    * sums of integers bounded by 127²·dim — exact in double on any
    * summation order, so the ranking is deterministic across
    * partitionings and engines with no decimal machinery. Same shape as
    * [[topK]]: the one-row query is broadcast, the index streams once,
    * and the top-k is a TakeOrderedAndProject (per-partition heads
    * merged on the driver), never a global sort.
    */
  def quantizedTopK(vectors: DataFrame, idCol: String, vecCol: String,
                    queryId: Long, k: Int): DataFrame =
    // pinned: the search reads the index twice (query row + stream) —
    // see [[pinned]]
    quantizedSearch(pinned(quantize(vectors, idCol, vecCol)), queryId, k)

  /** IVF-SQ8, the offline half: ONE scan assigns every vector to its
    * nearest centroid (the zero-shuffle broadcast-fold argmax of
    * [[ivfIndex]]) AND int8-quantizes it ([[quantize]]'s symmetric
    * scheme) — the production ANN index shape at corpus scale, where the
    * two levers compose: probing reads nProbe/nCells of the index and
    * every byte read is 1/8 the width of a double. Assignment ranks the
    * FULL-precision vector against the centroids (quantization error
    * never moves a vector across a cell boundary), and the quantized
    * ranking inside a cell is exact small-integer math, so the whole
    * operator carries a DuckDB oracle. Returns (vec_id, cent_id,
    * q TINYINT[], scale) — bucketable on cent_id via
    * [[graft.api.Bucketing]] exactly like the full-precision index.
    */
  def ivfQuantizedIndex(vectors: DataFrame, centroids: DataFrame,
                        idCol: String, vecCol: String): DataFrame = {
    val e = prepared(vectors, idCol, vecCol)
    val cents = prepared(centroids, idCol, vecCol, spread = false)
      .withColumnRenamed("vec_id", "cent_id").withColumnRenamed("v", "cv")
    assignNearest(e, cents)
      .withColumn("scale", expr("vec_maxabs(v)") / lit(127.0))
      .select(col("vec_id"), col("cent_id"),
        expr("quantize_i8(v, scale)").as("q"),
        col("scale"))
  }

  /** IVF-SQ8, the online half: pick the query's nProbe nearest cells by
    * cosine of the quantized query against the full-precision centroids
    * (per-vector scales cancel in cosine, so casting q to double IS the
    * dequantized direction), then rank inside the probed cells with the
    * codegen'd `cosine_sim_i8` integer kernel. Same plan shape as
    * [[ivfSearch]]: broadcast probes + broadcast 1-row query, the index
    * streams once, TakeOrderedAndProject — no shuffle anywhere.
    */
  def ivfQuantizedSearch(index: DataFrame, cents: DataFrame, queryId: Long,
                         k: Int, nProbe: Int): DataFrame = {
    graft.functions.VectorFunctions.register(index.sparkSession)
    val q = index.filter(col("vec_id") === queryId)
    val qd = q.select(expr("transform(q, x -> CAST(x AS DOUBLE))").as("qdv"))
    val probes = cents.crossJoin(broadcast(qd)) // bounded: 1 query row
      .withColumn("cd", expr("cosine_sim(qdv, cv)"))
      .orderBy(col("cd").desc, col("cent_id"))
      .limit(nProbe)
      .select(col("cent_id"))
    index.join(broadcast(probes), "cent_id") // bounded: nProbe cell ids
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q.select(col("q").as("qq")))) // bounded: 1 query row
      .withColumn("qcos", expr("cosine_sim_i8(q, qq)"))
      .orderBy(col("qcos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cent_id"), round(col("qcos"), 4).as("qcos"))
  }

  /** Build-and-search convenience over [[ivfQuantizedIndex]] /
    * [[ivfQuantizedSearch]], mirroring [[ivfTopK]].
    */
  def ivfQuantizedTopK(vectors: DataFrame, centroids: DataFrame,
                       idCol: String, vecCol: String, queryId: Long,
                       k: Int, nProbe: Int): DataFrame = {
    val cents = prepared(centroids, idCol, vecCol, spread = false)
      .withColumnRenamed("vec_id", "cent_id").withColumnRenamed("v", "cv")
    // pinned: three consumers + constraint re-expansion, see [[ivfTopK]]
    ivfQuantizedSearch(
      pinned(ivfQuantizedIndex(vectors, centroids, idCol, vecCol)),
      cents, queryId, k, nProbe)
  }

  /** Deterministic ±1 random projection (the database-friendly JL
    * transform of Achlioptas '01): output component `b` is the dot
    * product of the vector with sign row `b`, where sign(b, j) is the
    * parity of xxhash64(b, j) — the SAME formula as [[lshBucket]]'s
    * hyperplanes, so oracles inject the identical matrix through the
    * existing `__GRAFT_LSH_PLANES_<dOut>__` literal machinery. Each
    * component is a fixed-index-order fold of exact products
    * (x · ±1.0), so the projected doubles are identical on any engine
    * that sums a list sequentially.
    *
    * This is the bandwidth/footprint lever for ANN at corpus scale: a
    * 768-dim float corpus shrinks 48× at dOut=16 in one map-side pass —
    * no shuffle, no fitted model to ship.
    */
  def randomProject(vectors: DataFrame, idCol: String, vecCol: String,
                    dOut: Int = 16): DataFrame = {
    val e = prepared(vectors, idCol, vecCol)
    // one codegen'd expression backed by a shared static kernel
    // (round 22): the array-of-aggregates SQL form ran dOut × dim
    // interpreted lambda evaluations per row on the full-corpus
    // projection pass. Values are bit-identical — same hash chain,
    // same sequential add order (VectorKernels.rpProject).
    e.select(col("vec_id"), expr(s"rp_project(v, $dOut)").as("rv"))
  }

  /** Approximate top-k in the `dOut`-dim projected space: same
    * broadcast-query / streaming-corpus / TakeOrderedAndProject shape
    * as [[topK]], but every distance costs dOut multiplies instead of
    * dim. Recall vs exact top-k is pinned in ApiSpec.
    */
  def rpTopK(vectors: DataFrame, idCol: String, vecCol: String,
             queryId: Long, k: Int, dOut: Int = 16): DataFrame = {
    // pinned: projected frame read twice (query row + stream); the
    // dOut × dim interpreted projection fold runs once per row, not
    // per consumer
    val p = pinned(randomProject(vectors, idCol, vecCol, dOut))
    val q = p.filter(col("vec_id") === queryId).select(col("rv").as("qrv"))
    p.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .withColumn("rpcos", expr("cosine_sim(rv, qrv)"))
      .orderBy(col("rpcos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("rpcos"), 4).as("rpcos"))
  }

  // ---------------- IVF-PQ (Jégou et al. 2011) ----------------

  /** Product-quantization codebooks over RESIDUALS (IVFADC, Jégou et
    * al. 2011 §IV): each vector's residual against its coarse cell
    * centroid splits into `m` subspaces of dim/m dims, and each
    * subspace gets its own `ksub`-way deterministic Lloyd codebook
    * trained on the corpus's residual slices. Residual — not raw —
    * encoding is load-bearing: in a clustered corpus the raw subvectors
    * of co-located points collapse onto ONE code each (the probe
    * measured recall 0.03), while their residuals spread the
    * within-cell variation across the codebook. Codes are re-keyed
    * 0..ksub-1 in centroid-id order, so a code IS a positional index
    * into its codebook. m × ksub × dim/m doubles of driver metadata —
    * the k-means driver-literal discipline.
    *
    * This is the FAISS footprint lever: m small codes per vector
    * (ksub ≤ 256) instead of dim × 8 bytes — here 64 dims × 8 B = 512 B
    * shrink to 8 codes, the difference between an in-memory and a
    * spilled billion-vector index.
    */
  def pqCodebooks(vectors: DataFrame, centroids: DataFrame, idCol: String,
                  vecCol: String, m: Int = 8, ksub: Int = 16,
                  iters: Int = 2): Seq[Seq[(Long, Seq[Double])]] = {
    val e = prepared(vectors, idCol, vecCol)
    // dim probes the RAW input: a one-row head over the spread frame
    // would have to complete the whole round-robin shuffle map stage
    // (CollectLimit cannot push below a repartition) just to read a
    // single array length
    val dim = vectors.select(size(col(vecCol))).head().getInt(0)
    require(m >= 1 && dim % m == 0, s"dim $dim not divisible into m=$m subspaces")
    val dsub = dim / m
    val cents = prepared(centroids, idCol, vecCol, spread = false)
      .withColumnRenamed("vec_id", "cent_id").withColumnRenamed("v", "cv")
    // ONE exploded training frame for ALL m subspaces: (vec_id, j, sv) —
    // each residual fans into its m slices in place (a narrow transform,
    // same total bytes as the residual frame, no shuffle). Training all
    // subspaces against this frame turns m independent k-means runs
    // (m × (init + iters) sequential jobs, each re-scanning the
    // residuals) into ONE job per phase — the 100-TB build pays
    // 2 + iters corpus scans total instead of m × (1 + iters).
    val sub = assignNearest(e, cents)
      .join(broadcast(cents), "cent_id") // bounded: k coarse rows
      .select(col("vec_id"),
        posexplode(expr(
          s"""transform(sequence(0, ${m - 1}),
                j -> slice(zip_with(v, cv, (a, b) -> a - b),
                           j * $dsub + 1, $dsub))""")).as(Seq("j", "sv")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sub.count()
    // init = per subspace, the slices of the ksub lowest-id vectors
    // (cent_id = vec_id) — exactly kmeansCentroids' deterministic init
    // applied to each slice, fetched for all m subspaces in one job
    // (ids are per-vector, so the ksub·m lowest (vec_id, j) rows ARE
    // the ksub lowest vectors' slices).
    val initRows = sub.orderBy(col("vec_id"), col("j")).limit(ksub * m)
      .select(col("vec_id").cast("long"), col("j"), col("sv"))
      .collect()
    var books: IndexedSeq[Seq[(Long, Seq[Double])]] = (0 until m).map { j =>
      initRows.filter(_.getInt(1) == j)
        .map(r => (r.getLong(0), r.getSeq[Double](2))).toSeq.sortBy(_._1)
    }
    for (_ <- 0 until iters) {
      // one job per Lloyd round across ALL subspaces: the m codebooks
      // ride as a single nested literal (m × ksub × dsub doubles of
      // driver metadata), each row assigns against ITS subspace's book
      // via element_at, and the vec_sum_agg fold is keyed by
      // (j, cent_id) — m × ksub cells after map-side combine, never a
      // collect of the corpus. Per-subspace math is identical to the
      // sequential runs (same rows, same fold order per key).
      val updated = sub
        .withColumn("allc", typedlit(books.map(_.sortBy(_._1)).toSeq))
        .withColumn("cent_id",
          expr("nearest_centroid(sv, element_at(allc, j + 1))"))
        .groupBy("j", "cent_id")
        .agg(expr("vec_sum_agg(sv)").as("sum_v"), count(lit(1)).as("n"))
        .select(col("j"), col("cent_id"),
          expr("transform(sum_v, x -> x / CAST(n AS DOUBLE))").as("cv"))
        .collect()
        .map(r => ((r.getInt(0), r.getLong(1)), r.getSeq[Double](2))).toMap
      // empty-cell retention per subspace (kmeansCentroids' contract)
      books = books.zipWithIndex.map { case (cb, j) =>
        cb.map { case (cid, cv) => (cid, updated.getOrElse((j, cid), cv)) }
      }
    }
    sub.unpersist()
    books.map(_.sortBy(_._1)
      .zipWithIndex.map { case ((_, cv), code) => (code.toLong, cv) })
  }

  /** The codebooks as ONE literal column (array of per-subspace arrays
    * of (code, centroid) structs) — bounded driver metadata riding the
    * plan exactly like [[assignNearest]]'s centroid fold.
    */
  private def booksCol(books: Seq[Seq[(Long, Seq[Double])]]) =
    typedlit(books.map(_.map { case (code, cv) => (code, cv) }))

  /** IVF-PQ, the offline half: ONE scan assigns every vector to its
    * coarse cell (cosine — query-time probing must agree with ranking)
    * AND product-encodes its RESIDUAL against that cell's centroid: per
    * subspace, the EUCLIDEAN-nearest codebook entry (the codegen'd
    * `nearest_centroid_l2` — L2 because codes exist to minimize
    * reconstruction error). Returns (vec_id, cent_id,
    * codes array<bigint>) — m small ints per vector, bucketable on
    * cent_id like every other index here. No shuffle: centroids and
    * codebooks are broadcast literals, encoding is a projection.
    */
  def pqIndex(vectors: DataFrame, centroids: DataFrame, idCol: String,
              vecCol: String, books: Seq[Seq[(Long, Seq[Double])]]): DataFrame = {
    graft.functions.VectorFunctions.register(vectors.sparkSession)
    val m = books.size
    val dsub = books.head.head._2.size
    val e = prepared(vectors, idCol, vecCol)
    val cents = prepared(centroids, idCol, vecCol, spread = false)
      .withColumnRenamed("vec_id", "cent_id").withColumnRenamed("v", "cv")
    assignNearest(e, cents)
      .join(broadcast(cents), "cent_id") // bounded: k coarse rows
      .withColumn("r", expr("zip_with(v, cv, (a, b) -> a - b)"))
      .withColumn("books", booksCol(books))
      .withColumn("codes", expr(
        s"""transform(sequence(0, ${m - 1}),
              j -> nearest_centroid_l2(
                slice(r, CAST(j * $dsub + 1 AS INT), $dsub),
                element_at(books, CAST(j + 1 AS INT))))"""))
      .select(col("vec_id"), col("cent_id"), col("codes"))
  }

  /** IVF-PQ, the online half (IVFADC): coarse-probe the query's nProbe
    * nearest cells (exact query vector vs full-precision centroids),
    * then rank candidates by cosine of the query against each
    * candidate's RECONSTRUCTION — cell centroid + the codebook entries
    * its codes name, concatenated in subspace order. Numerically this
    * is the asymmetric distance computation: the query stays exact, the
    * per-subspace dot is the ADC lookup-table term. Same shape as
    * [[ivfSearch]]: broadcast probes + broadcast 1-row query + the
    * k-row centroid and m×ksub codebook literals, index streams once,
    * TakeOrderedAndProject, zero shuffle.
    */
  def pqSearch(index: DataFrame, vectors: DataFrame, centroids: DataFrame,
               idCol: String, vecCol: String,
               books: Seq[Seq[(Long, Seq[Double])]],
               queryId: Long, k: Int, nProbe: Int): DataFrame = {
    graft.functions.VectorFunctions.register(index.sparkSession)
    val m = books.size
    val e = prepared(vectors, idCol, vecCol)
    val cents = prepared(centroids, idCol, vecCol, spread = false)
      .withColumnRenamed("vec_id", "cent_id").withColumnRenamed("v", "cv")
    val qv = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    val probes = cents.crossJoin(broadcast(qv)) // bounded: 1 query row
      .withColumn("cd", expr("cosine_sim(cv, qv)"))
      .orderBy(col("cd").desc, col("cent_id"))
      .limit(nProbe)
      .select(col("cent_id"))
    index.join(broadcast(probes), "cent_id") // bounded: nProbe cell ids
      .join(broadcast(cents), "cent_id") // bounded: k coarse rows
      .filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(qv)) // bounded: 1 query row
      .withColumn("books", booksCol(books))
      .withColumn("rhat", expr(
        s"""flatten(transform(sequence(0, ${m - 1}),
              j -> element_at(element_at(books, CAST(j + 1 AS INT)),
                     CAST(element_at(codes, CAST(j + 1 AS INT)) AS INT) + 1)._2))"""))
      .withColumn("vhat", expr("zip_with(cv, rhat, (a, b) -> a + b)"))
      .withColumn("pqcos", expr("cosine_sim(vhat, qv)"))
      .orderBy(col("pqcos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("cent_id"), round(col("pqcos"), 4).as("pqcos"))
  }

  /** PQ-pruned exact re-rank (the FAISS refine stage): take the top
    * `rerank` candidates by ADC score, then rank exactly those ids
    * against the raw vectors. The corpus-wide scan stays code-width;
    * full-precision reads are confined to `rerank` rows fetched by id —
    * the standard lever when ADC granularity caps recall.
    */
  def pqTopKRerank(index: DataFrame, vectors: DataFrame,
                   centroids: DataFrame, idCol: String, vecCol: String,
                   books: Seq[Seq[(Long, Seq[Double])]], queryId: Long,
                   k: Int, nProbe: Int, rerank: Int = 100): DataFrame = {
    val cand = pqSearch(index, vectors, centroids, idCol, vecCol, books,
      queryId, k = rerank, nProbe = nProbe).select(col("vec_id"))
    val e = prepared(vectors, idCol, vecCol)
    val qv = e.filter(col("vec_id") === queryId).select(col("v").as("qv"))
    e.join(broadcast(cand), "vec_id") // bounded: rerank ids
      .crossJoin(broadcast(qv))
      .withColumn("cos", expr("cosine_sim(v, qv)"))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), round(col("cos"), 4).as("cos"))
  }

  /** Build-and-search convenience mirroring [[ivfQuantizedTopK]]. */
  def pqTopK(vectors: DataFrame, centroids: DataFrame, idCol: String,
             vecCol: String, queryId: Long, k: Int, nProbe: Int,
             m: Int = 8, ksub: Int = 16): DataFrame = {
    val books = pqCodebooks(vectors, centroids, idCol, vecCol, m, ksub)
    // pinned: see [[ivfTopK]]
    pqSearch(pinned(pqIndex(vectors, centroids, idCol, vecCol, books)),
      vectors, centroids, idCol, vecCol, books, queryId, k, nProbe)
  }
}
