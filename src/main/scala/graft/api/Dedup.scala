package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Public deduplication API over arbitrary corpora: exact, n-gram
  * Jaccard, MinHash-LSH, SimHash, embedding-cosine. Every operator takes
  * a DataFrame + column names and returns a DataFrame — no coupling to
  * any specific dataset.
  *
  * Scale contracts:
  *  - candidate generation is inverted-index or LSH-banded — never an
  *    all-pairs cross join over the corpus;
  *  - signatures are computed by native one-pass aggregates
  *    (graft.functions.MinHashAgg / SimHashAgg) — one shuffle on the id;
  *  - id column should be a stable unique key (pairs are emitted with
  *    id_a < id_b).
  */
object Dedup {

  private def pin(df: DataFrame): DataFrame = Pins.pin(df)

  /** Content-hash groups: (hash, n) per distinct payload. */
  def exactDuplicates(docs: DataFrame, textCol: String): DataFrame =
    docs.groupBy(sha2(col(textCol), 256).as("h"))
      .agg(count(lit(1)).as("n"))

  /** Remove exact duplicates: keep the lowest-id document of every
    * identical-payload group — the first dedup stage of any corpus
    * pipeline. One hash shuffle; the rank-1 window compiles to
    * WindowGroupLimit (a per-group top-1 scan, not a full sort), so
    * cost is linear in the corpus at any duplicate density.
    */
  def dropExactDuplicates(docs: DataFrame, idCol: String,
                          textCol: String): DataFrame = {
    // The content hash is MATERIALIZED as a column before the window
    // rather than written into partitionBy directly: as a partition
    // EXPRESSION, sha2(text) is re-evaluated by the exchange hash, by
    // every sort comparison, and by WindowGroupLimit's per-row group
    // check — and the full document text must ride the shuffle to feed
    // those re-evaluations. As a column it is one sha2 per row and the
    // exchange/sort/group-limit compare the 32-byte digest while the
    // planner prunes `text` out of the shuffle when the caller doesn't
    // project it (profiled: the window stage's CPU dropped ~5x and its
    // shuffle carried digests, not documents).
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_h")).orderBy(col(idCol))
    Par.spread(docs).withColumn("_h", sha2(col(textCol), 256))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_h")
  }

  /** The canonical form behind [[dropExactDuplicatesNormalized]]:
    * casefold, non-alphanumerics to spaces, whitespace runs collapsed,
    * trimmed. ASCII-safe and identical under Java and RE2 regex
    * semantics, so an oracle replays it verbatim (as
    * `trim(regexp_replace(regexp_replace(lower(t),'[^a-z0-9 ]',' '),' +',' '))`).
    * The Spark side runs [[graft.functions.TextNorm.normalize]] — a
    * single byte walk proven equivalent to that regex chain
    * (spec-pinned incl. unicode/degenerate inputs); the two
    * regexp_replace passes plus trim cost ~1 ms per KB-doc of pattern
    * machinery (profiled: the normalize stage was 130x its regex-free
    * twin).
    */
  private def normText(c: Column): Column =
    call_function("norm_ascii", c)

  /** Exact dedup under canonicalization — the production "exact" pass:
    * case, punctuation, and whitespace variants of the same content
    * (the dominant trivial-duplicate classes in crawl data) hash
    * together, and the min-id member of each class survives with its
    * ORIGINAL text. Same scale shape as [[dropExactDuplicates]]: a
    * content-hash window whose partitions are duplicate classes (tiny),
    * never a corpus-wide sort.
    */
  def dropExactDuplicatesNormalized(docs: DataFrame, idCol: String,
                                    textCol: String): DataFrame = {
    graft.functions.TextFunctions.register(docs.sparkSession)
    // Materialized digest column for the same reason as
    // [[dropExactDuplicates]]: norm_ascii+sha2 once per row instead of
    // per exchange-hash/sort-comparison/group-check, digest-width
    // shuffle instead of document-width.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_h")).orderBy(col(idCol))
    // Par.spread: normalize+hash over a narrow scan ran 10 s of CPU on
    // 4 of 32 cores at sf≈1; the window re-shuffles by hash anyway
    Par.spread(docs)
      .withColumn("_h", sha2(normText(col(textCol)), 256))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", "_h")
  }

  /** Cross-source duplication matrix: how many duplicate pairs connect
    * each (source, source) combination — the curation diagnostic that
    * tells you WHERE the duplication lives ("crawl B is 40% mirrors of
    * crawl A") before deciding what to drop. `pairs` is any pair frame
    * ((doc_a, doc_b) — near-dup, minhash, simhash, embedding); rows are
    * oriented (least, greatest) by source name so the matrix is
    * upper-triangular. The pair set is orders of magnitude smaller than
    * the corpus, so AQE turns both lookups into broadcast joins; the
    * final aggregation is |sources|² at most.
    */
  def pairSourceMatrix(pairs: DataFrame, docs: DataFrame, idCol: String,
                       srcCol: String): DataFrame = {
    val src = docs.select(col(idCol).as("__id"), col(srcCol).as("__src"))
    pairs.select(col("doc_a"), col("doc_b"))
      .join(src.select(col("__id").as("doc_a"), col("__src").as("sa")), "doc_a")
      .join(src.select(col("__id").as("doc_b"), col("__src").as("sb")), "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("source_a", "source_b")
  }

  /** doc → distinct word n-gram shingles, persisted (dedup pipelines
    * branch over this frame repeatedly).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               n: Int = 4): DataFrame =
    // SIZE-derived spread (Par.spreadDense, round 22): full-width
    // Par.spread was measured twice in r21 and reverted — it fixed the
    // narrow-scan solo shape (10x solo build 12.0 -> 6.9 s) but this
    // frame is PERSISTED and MULTI-CONSUMER, and the full-width cached
    // layout cost the concurrent suite +6 s / +30 s executor CPU. The
    // bytes-proportional width keeps a small cached frame narrow (the
    // sf0.1 suite case is a NO-OP — no exchange) while a replica big
    // enough to matter solo spreads to ~1 task per 4 MB of text.
    Par.spreadDense(docs)
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      // sorted + distinct: the contract SortedIntersectSize relies on
      // (set semantics are order-free, so oracles are unaffected)
      .select(col("doc_id"), array_sort(array_distinct(expr(
        s"transform(sequence(1, size(w)-${n - 1}), i -> concat_ws(' ', slice(w, i, $n)))")))
        .as("toks"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Exact n-gram-Jaccard pairs ≥ threshold via inverted-index join.
    * Singleton postings are dropped (df=1 cannot pair), and postings
    * with document frequency above `maxDf` are dropped too: a
    * boilerplate shingle shared by 10⁵ docs would emit 10¹⁰ candidate
    * rows from this self-join — the classic inverted-index skew killer.
    * Dropping a hot posting costs recall only for pairs whose ENTIRE
    * overlap is boilerplate (a pair at Jaccard ≥ t almost surely shares
    * rarer shingles that still collide), the same trade CCNet-style
    * pipelines make by discarding high-df n-grams. Set
    * `maxDf = Int.MaxValue` for the exact-at-any-cost behavior.
    * Surviving toks with df above `hotDf` are salted in the self-join
    * (see inline note) so no single join group exceeds ~hotDf·maxDf
    * rows — skew headroom for the df-just-under-the-cap boilerplate
    * token that would otherwise put df² rows in one task.
    */
  def nearDuplicatePairs(sh: DataFrame, threshold: Double,
                         maxDf: Int = 10000, hotDf: Int = 1000): DataFrame = {
    require(hotDf >= 1, s"hotDf must be >= 1, got $hotDf")
    // shingles travel as 8-byte xxhash64 keys, not ~30-byte strings:
    // every downstream exchange (df count, semi-join, posting
    // self-join) moves the whole exploded corpus, so key width IS the
    // shuffle volume at 100 TB. Within a doc the shingle set is
    // distinct, so `inter` stays an exact shared-shingle count unless
    // two DIFFERENT shingles of a pair collide at 64 bits (~2⁻⁶⁴ per
    // candidate) — the same practically-zero trade minhashPairs makes,
    // here without even affecting candidate recall.
    // ONE explicit hash-exchange of the raw posting frame, MATERIALIZED
    // (persist) so every downstream step inherits it: the df count, the
    // hot semi-join, and the posting self-join all want
    // HashPartitioning(tok), so the pipeline's total shuffle is exactly
    // one pass over the (doc_id, tok) rows — fixed bytes per posting,
    // FLAT per corpus row at any scale. Without this, the df count
    // shuffles its own partial-aggregate rows, whose map-side combine
    // decays toward 1:1 as distinct-shingle cardinality outgrows the
    // partial hash table (the measured ~2.3x shuffle bytes per corpus
    // row at 100x), and each self-join side re-explodes and
    // re-exchanges the postings again (exchange reuse does not fire
    // across the cached-shingle AQE subplans). The persist matters as
    // much as the repartition: cached partitioning is stable (AQE
    // leaves cached-plan output partitioning alone by default), so the
    // downstream zero-exchange property holds by construction instead
    // of by optimizer luck; the cache itself is the same
    // corpus-order-bytes trade [[shingles]] already makes.
    val ex = pin(sh.select(col("doc_id"), explode(col("toks")).as("t0"))
      .select(col("doc_id"), xxhash64(col("t0")).as("tok"))
      .repartition(col("tok"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    // Skew headroom: a tok at df=maxDf would emit df² candidate rows in
    // ONE task's join group (10⁸ at the default cap — a straggler that
    // owns the stage wall). Postings therefore split by df: COLD toks
    // (df ≤ hotDf) self-join on tok exactly as before — zero-exchange,
    // inheriting the materialized tok partitioning, group output
    // bounded by hotDf². HOT toks (hotDf < df ≤ maxDf — a tiny slice,
    // |toks| bounded and each ≤ maxDf postings) go through a salted
    // join: the left occurrence picks ONE of ceil(df/hotDf) salt
    // buckets by doc-id hash, the right occurrence replicates into all
    // of them, so every ordered pair still meets exactly once but a
    // join group holds ≤ hotDf·df rows instead of df² — bounded
    // straggler, replication cost paid only on the hot slice. Identical
    // pair set and inter counts by construction; set hotDf = maxDf to
    // disable the salted path.
    // PERSISTED: four plan subtrees consume this aggregate (both sides
    // of the cold self-join's semi-joins, both sides of the hot join),
    // and exchange reuse does not fire across the cached-ex subplans —
    // unpersisted, the full tok-frequency aggregation over the posting
    // cache would re-execute once per consumer. The frame itself is
    // small: one (tok, df) row per surviving distinct shingle.
    val dfs = pin(ex.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .persist(StorageLevel.MEMORY_AND_DISK))
    val exCold = ex.join(dfs.filter(col("df") <= hotDf).select("tok"),
      Seq("tok"), "left_semi")
    val coldPairs = exCold.as("a").join(exCold.as("b"), "tok")
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    // Explicit fixed-count repartition on (tok, salt), NOT a plain join
    // exchange: the hot slice is tiny by INPUT bytes (≤ maxDf postings
    // per tok), so AQE's size-based coalescing would merge every salt
    // group back into one post-shuffle partition — blind to the df²
    // join OUTPUT about to erupt — and reconstruct exactly the one-task
    // straggler the salt exists to break. A user-specified partition
    // count is exempt from coalescing, and both sides sharing
    // HashPartitioning(tok, salt, P) means the join itself adds no
    // further exchange; each salt group then joins in its own task.
    val nPart = sh.sparkSession.sessionState.conf.numShufflePartitions
    val exHot = ex.join(dfs.filter(col("df") > hotDf), Seq("tok"))
      .withColumn("s", expr(s"(df + ${hotDf - 1}) div $hotDf"))
    val hotPairs = exHot
      .select(col("tok"), col("doc_id").as("doc_a"),
        pmod(xxhash64(col("doc_id")), col("s")).as("salt"))
      .repartition(nPart, col("tok"), col("salt"))
      .join(exHot.select(col("tok"), col("doc_id").as("doc_b"),
          explode(expr("sequence(0L, s - 1)")).as("salt"))
        .repartition(nPart, col("tok"), col("salt")),
        Seq("tok", "salt"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"))
    val pairs = coldPairs.unionAll(hotPairs)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).cast("double").as("inter"))
    // NO broadcast hint on the size frame: it is CORPUS-sized (one row
    // per document), and a forced broadcast of 10⁹ (doc_id, sz) rows is
    // a ~16 GB+ build side — over Spark's 8 GB broadcast-table limit
    // and a driver/executor OOM long before. The surviving pair set is
    // ≪ the postings, so a shuffle join on doc_id is the right default
    // plan; AQE still promotes the join to broadcast at small SFs where
    // the frame genuinely fits, which is the sizing decision the
    // optimizer owns, not a hint.
    val sz = sh.select(col("doc_id"), size(col("toks")).as("sz"))
    pairs
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard", col("inter") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Cross-document shared-segment coverage (the diagnostic behind
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better": exact substring duplication across documents is
    * what models memorize): for every document, the ppm of its word
    * `k`-gram positions whose k-gram also occurs in at least one OTHER
    * document. A doc near 10⁶ ppm is wholly assembled from shared
    * text (mirrors, templates, quotes); near-dup pair detection misses
    * this when each PAIR's overlap stays under its Jaccard threshold.
    *
    * Scale shape: explode k-gram positions (grams travel as xxhash64
    * keys), distinct (doc, gram), gram→distinct-doc-count, df≥2
    * semi-join back, one per-doc count — inverted-index volume, never
    * doc². Output ppm is exact integer arithmetic (positions·10⁶ div
    * n_grams).
    */
  def sharedSegmentCoverage(docs: DataFrame, idCol: String, textCol: String,
                            k: Int = 8): DataFrame = {
    // materialized once, co-partitioned on the gram key: the frame
    // feeds both the df count and the semi-join probe side, and without
    // the persist each consumer re-explodes and re-hashes the corpus
    // (the same exchange-reuse failure as the near-dup postings)
    val pos = pin(docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= k)
      .select(col("doc_id"), (size(col("w")) - (k - 1)).cast("long").as("n_grams"),
        explode(expr(
          s"""transform(sequence(1, size(w) - ${k - 1}),
                i -> xxhash64(${(0 until k).map(j => s"element_at(w, i + $j)")
                  .mkString(", ")}))""")).as("g"))
      .repartition(col("g"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val shared = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("g")
    pos.join(shared, Seq("g"), "left_semi")
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_shared_pos"))
      .select(col("doc_id"), col("n_grams"), col("n_shared_pos"),
        expr("n_shared_pos * 1000000L div n_grams").as("shared_ppm"))
  }

  /** Span-level exact-substring dedup REMOVAL (Lee et al. 2022, the
    * `deduplicate-text-datasets` operator): where [[sharedSegmentCoverage]]
    * only MEASURES cross-document duplicated k-gram mass, this CUTS it —
    * every maximal run of ≥ `minLen` consecutive shared k-gram positions
    * is removed from all its occurrences except the first (min (doc_id,
    * start)), and the surviving tokens are stitched back into text. Docs
    * are kept (possibly shortened), never dropped — the production dedup
    * mode for template-heavy corpora where doc-level drops over-delete.
    *
    * Recall caveat (vs the suffix-array reference implementation):
    * occurrences are matched by WHOLE-maximal-run identity. When the
    * maximal shared-run extents of the same block differ across docs —
    * doc A's run extends past the block because a third doc shares its
    * boundary-straddling grams while doc B's run is the block alone —
    * the two runs carry different fingerprints, each becomes its own
    * keeper, and neither copy is cut (under-removal, never
    * over-removal: only exact whole-run matches beyond the first are
    * removed). The suffix-array operator cuts at substring granularity
    * and would catch these; here that precision is traded for the
    * gram-exchange + islands plan, which needs no corpus-wide suffix
    * structure. The DuckDB oracle replays the same rule, so the trade
    * is pinned, not hidden. [[removeSharedSegmentsByGram]] is the
    * aggressive counterpart (per-gram keepers — catches differing-extent
    * blocks, may over-cut mosaics); the two bracket the suffix-array
    * result from below and above.
    *
    * Output: (doc_id, text_clean, n_removed) — one row per input doc.
    *
    * Scale shape:
    *  - grams travel as 8-byte xxhash64 keys with their position; ONE
    *    materialized gram exchange feeds the df count and the semi-join
    *    (the [[sharedSegmentCoverage]] discipline);
    *  - runs come from a per-doc gaps-and-islands window — each
    *    partition's rows are bounded by that doc's length, never the
    *    corpus;
    *  - span identity is the hash of the run's ordered gram-hash
    *    sequence (overlapping k-gram chains determine the substring), so
    *    no re-join against the corpus text is needed to match
    *    occurrences across docs;
    *  - the keeper of each span is a min-struct AGGREGATION, not a
    *    window: a span duplicated 10⁶ times costs a map-side partial
    *    min, never a single-task sort;
    *  - the final stitch joins the corpus once against the (small) cut
    *    set on doc_id — AQE broadcasts the cut side when it fits.
    */
  /** Materialized, g-co-partitioned (doc_id, i, g) gram-position frame
    * shared by the two span-removal variants: 1-based positions, 8-byte
    * xxhash64 gram keys, ONE exchange feeding every downstream consumer
    * (df/keeper aggregation and the removability/semi joins).
    */
  private def gramPositions(toks: DataFrame, k: Int): DataFrame =
    pin(toks.filter(size(col("w")) >= k)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(sequence(1, size(w) - ${k - 1}),
              i -> xxhash64(${(0 until k).map(j => s"element_at(w, i + $j)")
                .mkString(", ")}))""")))
      .select(col("doc_id"), (col("pos") + 1).as("i"), col("col").as("g"))
      .repartition(col("g"))
      .persist(StorageLevel.MEMORY_AND_DISK))

  /** Shared stitch tail: drop every token index covered by a cut span
    * ((start, end_tok) structs in `cuts.spans`; adjacent runs may
    * overlap by up to k-2 tokens — the index filter handles that
    * without double-counting) and re-join the survivors.
    */
  private def stitchCuts(toks: DataFrame, cuts: DataFrame): DataFrame =
    toks.join(cuts, Seq("doc_id"), "left")
      .withColumn("kept",
        when(col("spans").isNull, col("w")).otherwise(expr(
          """transform(
               filter(transform(w, (t, p) -> struct(t AS t, p + 1 AS j)),
                      s -> NOT exists(spans,
                             c -> s.j >= c.start AND s.j <= c.end_tok)),
               s -> s.t)""")))
      .select(col("doc_id"), concat_ws(" ", col("kept")).as("text_clean"),
        (size(col("w")) - size(col("kept"))).cast("long").as("n_removed"))

  def removeSharedSegments(docs: DataFrame, idCol: String, textCol: String,
                           k: Int = 8, minLen: Int = 2): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("w"))
    val pos = gramPositions(toks, k)
    val shared = pos.select(col("doc_id"), col("g")).distinct()
      .groupBy("g").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("g")
    // maximal runs of consecutive shared positions (gaps-and-islands)
    val wn = Window.partitionBy("doc_id").orderBy("i")
    val runs = pos.join(shared, Seq("g"), "left_semi")
      .withColumn("isl", col("i") - row_number().over(wn))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("i")).as("start"), count(lit(1)).as("glen"),
        array_sort(collect_list(struct(col("i"), col("g")))).as("seq"))
      .filter(col("glen") >= minLen)
      .select(col("doc_id"), col("start"),
        (col("start") + col("glen") + lit(k - 2)).as("end_tok"),
        xxhash64(expr("transform(seq, s -> s.g)")).as("fp"))
    val keeper = runs.groupBy("fp")
      .agg(min(struct(col("doc_id"), col("start"))).as("kp"))
    val cuts = runs.join(keeper, "fp")
      .filter(!(col("doc_id") === col("kp.doc_id") &&
        col("start") === col("kp.start")))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start"), col("end_tok"))).as("spans"))
    stitchCuts(toks, cuts)
  }

  /** Span removal under the PER-GRAM keeper rule — the aggressive
    * counterpart of [[removeSharedSegments]]: each shared k-gram's
    * keeper is its min (doc_id, position) occurrence corpus-wide, a
    * position is removable iff it is not its gram's keeper, and maximal
    * runs of ≥ `minLen` removable positions are cut. Where the
    * whole-run variant UNDER-deletes (a duplicated block whose maximal
    * run extents differ across docs is cut from neither — extents never
    * fingerprint-match), this rule catches every such block but can
    * OVER-delete "mosaic" spans whose grams are each duplicated
    * somewhere without any single doc containing the span contiguously
    * (raise `minLen` to suppress: a cut needs minLen+k-1 consecutive
    * tokens of wall-to-wall duplicated grams). The two operators
    * bracket the suffix-array reference (Lee et al. 2022) from the two
    * sides. Retention differs: the whole-run variant only ever cuts
    * exact copies of text its keeper retains, so cut content always
    * survives verbatim somewhere; HERE keeper positions are never
    * removable, but a cut run's k-1 token expansion can clip tokens of
    * keeper grams adjacent to the run boundary — boundary context may
    * not survive verbatim in any doc. Treat this variant as an
    * aggressive filter, not a retention-guaranteed dedup.
    *
    * Scale shape: strictly simpler than the whole-run variant — the
    * keeper is a per-gram min-struct aggregation on the SAME
    * materialized gram exchange the removability join then reuses
    * (both keyed on g, exchange-aligned), then the per-doc islands
    * window and the one corpus-vs-cuts stitch join.
    */
  def removeSharedSegmentsByGram(docs: DataFrame, idCol: String,
                                 textCol: String, k: Int = 8,
                                 minLen: Int = 2): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(minLen >= 1, s"minLen must be >= 1, got $minLen")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("w"))
    val pos = gramPositions(toks, k)
    // per-gram keeper (min (doc_id, i)) and document frequency in one
    // aggregation over the materialized exchange; df >= 2 distinct docs
    // defines "shared" exactly as sharedSegmentCoverage does
    val keeper = pos.groupBy("g")
      .agg(min(struct(col("doc_id"), col("i"))).as("kp"),
        countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2)
      .select(col("g"), col("kp"))
    val removable = pos.join(keeper, Seq("g"))
      .filter(!(col("doc_id") === col("kp.doc_id") && col("i") === col("kp.i")))
      .select(col("doc_id"), col("i"))
    val wn = Window.partitionBy("doc_id").orderBy("i")
    val cuts = removable
      .withColumn("isl", col("i") - row_number().over(wn))
      .groupBy(col("doc_id"), col("isl"))
      .agg(min(col("i")).as("start"), count(lit(1)).as("glen"))
      .filter(col("glen") >= minLen)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start"),
        (col("start") + col("glen") + lit(k - 2)).as("end_tok"))).as("spans"))
    stitchCuts(toks, cuts)
  }

  /** EXACT-substring duplicate-extent removal — the Lee et al. 2022
    * reference-tool semantics ("deduplicate exact substrings": delete
    * every occurrence of every duplicated substring of length ≥ k; the
    * reference implementation builds a corpus suffix array to find
    * them), computed EXACTLY with the gram exchange, no suffix array
    * and no approximation. The equivalence the keeper-based variants'
    * bracket caveats don't get to use:
    *
    *   a token position is covered by some duplicated substring of
    *   length ≥ k  ⟺  it is covered by a duplicated k-token window —
    *   (⇒) every k-window inside a duplicated substring occurs
    *   everywhere the substring does, so at ≥ 2 positions, and the
    *   windows of a length-≥k substring cover all of it; (⇐) a
    *   duplicated k-window IS a duplicated substring of length k.
    *
    * Under DELETE-ALL semantics coverage is the whole answer, so the
    * duplicated-start islands below reproduce the suffix-array tool's
    * cut set token-for-token. (The suffix array is only genuinely
    * needed for KEEPER-based retention — choosing one surviving
    * occurrence per maximal repeat — which is where
    * [[removeSharedSegments]] / [[removeSharedSegmentsByGram]] bracket
    * from the two sides.) Duplication counts OCCURRENCES, not distinct
    * docs: a substring repeated within one document is duplicated, as
    * in the reference tool's self-dedup.
    *
    * Scale shape: identical to the siblings — one materialized gram
    * exchange, an occurrence-count aggregation on it (map-side
    * partial), the per-doc islands window (never a corpus window), and
    * the one corpus-vs-cuts stitch join. Nothing rides on corpus² and
    * no suffix-array construction (log n global sort rounds) is paid.
    */
  def removeDuplicatedExtents(docs: DataFrame, idCol: String,
                              textCol: String, k: Int = 8): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("doc_id"),
      split(col(textCol), " ").as("w"))
    val pos = gramPositions(toks, k)
    val dup = pos.groupBy("g").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("g")
    val starts = pos.join(dup, Seq("g"), "left_semi")
      .select(col("doc_id"), col("i"))
    // islands of duplicated starts whose k-windows touch or overlap
    // (gap ≤ k-1): the union of their [i, i+k-1] coverage is one
    // contiguous extent; a gap ≥ k leaves clean tokens between extents
    val wn = Window.partitionBy("doc_id").orderBy("i")
    val cuts = starts
      .withColumn("brk",
        when(col("i") - lag(col("i"), 1).over(wn) <= k - 1, lit(0))
          .otherwise(lit(1)))
      .withColumn("grp", sum(col("brk")).over(wn))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("i")).as("start"),
        (max(col("i")) + lit(k - 1)).as("end_tok"))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("start"), col("end_tok"))).as("spans"))
    stitchCuts(toks, cuts)
  }

  /** (doc_id, band_idx, band_hash) LSH band rows of a shingled corpus:
    * the unit both the batch pair search and the incremental index
    * share. At scale this is what gets persisted bucketed by
    * (band_idx, band_hash) so increments join against it shuffle-free.
    */
  def minhashBandRows(sh: DataFrame, numPerms: Int = 128,
                      bands: Int = 32): DataFrame = {
    graft.functions.MinHashAgg.register(sh.sparkSession)
    val r = numPerms / bands
    val ex = sh.select(col("doc_id"), explode(col("toks")).as("tok"))
    val sig = ex.groupBy("doc_id")
      .agg(expr(s"minhash_sig(tok, $numPerms)").as("sig"))
    val bandArr = array((0 until bands).map(b =>
      xxhash64((0 until r).map(k => element_at(col("sig"), b * r + k + 1)): _*)): _*)
    sig.select(col("doc_id"), posexplode(bandArr))
      .toDF("doc_id", "band_idx", "band_hash")
  }

  /** Exact-Jaccard verification of a candidate pair set against the
    * shingle sets (false positives removed).
    */
  private def verifyPairs(cand: DataFrame, shA: DataFrame, shB: DataFrame,
                          threshold: Double): DataFrame = {
    graft.functions.SetFunctions.register(cand.sparkSession)
    val sa = shA.select(col("doc_id").as("doc_a"), col("toks").as("toks_a"))
    val sb = shB.select(col("doc_id").as("doc_b"), col("toks").as("toks_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      // fused codegen two-pointer merge; toks are sorted by contract
      .withColumn("inter",
        expr("sorted_intersect_size(toks_a, toks_b)").cast("double"))
      .withColumn("jaccard",
        col("inter") / (size(col("toks_a")) + size(col("toks_b")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** MinHash + LSH banding: candidates from band-bucket collisions,
    * verified with exact Jaccard (false positives removed; false-negative
    * probability (1-t^r)^bands).
    */
  def minhashPairs(sh: DataFrame, threshold: Double, numPerms: Int = 128,
                   bands: Int = 32): DataFrame = {
    // materialized + pre-partitioned on the join key for the same
    // reason as [[nearDuplicatePairs]]'s posting frame: the self-join
    // would otherwise compute the FULL minhash signature aggregation
    // once per side (exchange reuse does not fire across the cached-
    // shingle AQE subplans) and re-exchange both copies. One signature
    // pass, one exchange, both sides read the cache.
    val bandRows = pin(minhashBandRows(sh, numPerms, bands)
      .repartition(col("band_idx"), col("band_hash"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val cand = bandRows.as("a")
      .join(bandRows.as("b"), Seq("band_idx", "band_hash"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, sh, sh, threshold)
  }

  /** A built MinHash band index: the band rows PLUS the signature
    * parameters they were hashed with. Increments must be signed with
    * the SAME (numPerms, bands) or band hashes never collide and the
    * join silently degenerates toward empty — carrying the ints with
    * the rows makes that mismatch unrepresentable instead of a
    * documented footgun. Persisted deployments should store the two
    * ints next to the table like any other index metadata and
    * reconstruct the `BandIndex` on load.
    */
  final case class BandIndex(rows: DataFrame, numPerms: Int, bands: Int)

  /** Build (and optionally persist downstream) the corpus band index
    * for [[incrementalMinhashPairsIndexed]].
    */
  def buildBandIndex(corpusSh: DataFrame, numPerms: Int = 128,
                     bands: Int = 32): BandIndex =
    BandIndex(minhashBandRows(corpusSh, numPerms, bands), numPerms, bands)

  // ---- persisted band and segment indexes --------------------------------

  /** Bump when the on-disk band- or segment-index layout or the
    * shingle/signature algorithm changes: it is the [[BuildCache]]
    * version of both index recipes, so a stale index is never served.
    */
  private val IndexFormatVersion = 1

  private[graft] def hadoopFs(spark: org.apache.spark.sql.SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Release the block-store copy behind a localCheckpoint'd frame.
    *
    * `Dataset.unpersist` cannot do this: checkpoint blocks belong to the
    * underlying RDD, not to a cache-manager entry, so the Dataset call
    * is a silent no-op and superseded checkpoints stay pinned until the
    * context cleaner happens to GC them. A localCheckpoint's lineage is
    * truncated — its blocks ARE the data — so this must only ever be
    * called on frames that are provably never read again (iterative
    * supersession); a dropped-then-read checkpoint fails hard instead
    * of recomputing, which is the honest failure mode.
    */
  private[graft] def dropLocalCheckpoint(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach { rdd => rdd.unpersist(blocking = false); () }

  /** A 64-bit sha256 tag of `path` for scratch and table names —
    * collision-safe where a 32-bit `hashCode` would alias two paths.
    */
  private[graft] def tableTag(path: String) =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(path.getBytes("UTF-8")).take(8)
      .map("%02x".format(_)).mkString

  /** The band index of `corpusSh` AND the shingle frame itself as one
    * [[BuildCache]] entry of bucketed external tables — bands on
    * (band_idx, band_hash) so every increment's band join needs no
    * corpus-side exchange, shingles on doc_id so candidate verification
    * joins the corpus co-partitioned. The entry is keyed by the
    * signature parameters and the fingerprint of `inputs` (the files
    * `corpusSh` is a deterministic function of), so a regenerated corpus
    * or changed parameters never serve a stale index, and a cold process
    * with unchanged inputs attaches the files by DDL instead of
    * re-shingling: the sign-once, increment-forever deployment shape.
    * `corpusSh` is by-name: a served entry never plans it. `scope` names
    * the corpus; entries of other keys under it are superseded.
    */
  def cachedBandIndex(spark: org.apache.spark.sql.SparkSession, scope: String,
                      inputs: Seq[String], numPerms: Int = 128, bands: Int = 32,
                      buckets: Int = 8)(
      corpusSh: => DataFrame): (BandIndex, DataFrame) = {
    val loc = BuildCache(spark, "bands", IndexFormatVersion, inputs, scope,
        Seq("num_perms" -> numPerms, "bands" -> bands, "buckets" -> buckets)) { dir =>
      val stage = Seq("bands", "bandsh").map(t => s"graft_${t}_stage_${BuildCache.tagOf(dir)}")
      val sh = corpusSh
      try {
        minhashBandRows(sh, numPerms, bands).write.format("parquet")
          .bucketBy(buckets, "band_idx", "band_hash")
          .sortBy("band_idx", "band_hash")
          .option("path", s"$dir/bands").mode("overwrite").saveAsTable(stage(0))
        sh.write.format("parquet")
          .bucketBy(buckets, "doc_id").sortBy("doc_id")
          .option("path", s"$dir/shingles").mode("overwrite").saveAsTable(stage(1))
      } finally stage.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    val tag = BuildCache.tagOf(loc)
    (BandIndex(spark.table(attachBucketed(spark, s"graft_bands_$tag",
        s"$loc/bands", Seq("band_idx", "band_hash"), buckets)), numPerms, bands),
      spark.table(attachBucketed(spark, s"graft_bandsh_$tag", s"$loc/shingles",
        Seq("doc_id"), buckets)))
  }

  /** Attach an on-disk bucketed directory as a catalog table and return
    * its name — IDEMPOTENT and race-tolerant: CREATE TABLE IF NOT EXISTS
    * (two concurrent attachers of one entry issue identical DDL), with
    * one retry. Callers name the table after the [[BuildCache]] entry it
    * reads, so a table never points at a superseded entry.
    */
  private[graft] def attachBucketed(spark: org.apache.spark.sql.SparkSession,
                                    tbl: String, loc: String, keys: Seq[String],
                                    buckets: Int): String = {
    def tryOnce(): Unit =
      if (!spark.catalog.tableExists(tbl)) {
        val schema = SchemaMemo.read(spark, loc).schema.toDDL
        val ks = keys.mkString(", ")
        spark.sql(s"CREATE TABLE IF NOT EXISTS $tbl ($schema) USING PARQUET " +
          s"CLUSTERED BY ($ks) SORTED BY ($ks) INTO $buckets BUCKETS " +
          s"LOCATION '$loc'")
        // the session's SessionMemo entry drops the catalog entry (only
        // — the files ARE the index) at Graft.clear
        SessionMemo.withRelease[String](spark, "dedup.indexTable", tbl,
          t => { spark.sql(s"DROP TABLE IF EXISTS $t"); () })(tbl)
      }
    try tryOnce() catch { case _: Exception => tryOnce() }
    tbl
  }

  /** The distinct segment-hash index of a corpus (the
    * [[incrementalParagraphDedupByHash]] reference side) as ONE
    * bucketed-on-h external table in a [[BuildCache]] entry keyed by
    * `segTokens` and the fingerprint of `inputs` — the segment-once,
    * attach-forever shape of [[cachedBandIndex]]. `hashes` is by-name.
    */
  def cachedSegmentIndex(spark: org.apache.spark.sql.SparkSession, scope: String,
                         inputs: Seq[String], segTokens: Int, buckets: Int = 8)(
      hashes: => DataFrame): DataFrame = {
    val loc = BuildCache(spark, "segs", IndexFormatVersion, inputs, scope,
        Seq("seg_tokens" -> segTokens, "buckets" -> buckets)) { dir =>
      val stage = s"graft_segs_stage_${BuildCache.tagOf(dir)}"
      try hashes.select(col("h")).write.format("parquet")
        .bucketBy(buckets, "h").sortBy("h")
        .option("path", s"$dir/segments").mode("overwrite").saveAsTable(stage)
      finally spark.sql(s"DROP TABLE IF EXISTS $stage")
    }
    spark.table(attachBucketed(spark, s"graft_segs_${BuildCache.tagOf(loc)}",
      s"$loc/segments", Seq("h"), buckets))
  }

  /** Incremental near-dup detection: NEW documents against an already-
    * shingled corpus — the production shape at 100 TB, where the corpus
    * side is a persisted band index (ideally bucketed on
    * (band_idx, band_hash) via [[graft.api.Bucketing]]) and only the
    * increment is signed per run. Cost scales with |increment| × band
    * collision rate, never with |corpus|; the corpus is touched only on
    * the band-key join and the verification of surviving candidates.
    *
    * Returns (doc_a = corpus id, doc_b = new id, jaccard ≥ threshold).
    * Within-increment duplicates are a separate `minhashPairs(newSh)`
    * call — they need no corpus access.
    */
  def incrementalMinhashPairs(corpusSh: DataFrame, newSh: DataFrame,
                              threshold: Double, numPerms: Int = 128,
                              bands: Int = 32): DataFrame =
    incrementalMinhashPairsIndexed(corpusSh,
      buildBandIndex(corpusSh, numPerms, bands), newSh, threshold)

  /** [[incrementalMinhashPairs]] against an ALREADY-BUILT corpus band
    * index ([[buildBandIndex]] of the corpus, persisted or bucketed
    * once) — the continuous-ingestion shape: a long-lived pipeline
    * signs the corpus exactly once and every increment call pays only
    * its own signatures (with the index's own parameters) plus the
    * band-key join. `corpusSh` is still needed for the exact-Jaccard
    * verification of surviving candidates.
    */
  def incrementalMinhashPairsIndexed(corpusSh: DataFrame,
                                     index: BandIndex, newSh: DataFrame,
                                     threshold: Double): DataFrame = {
    val bandN = minhashBandRows(newSh, index.numPerms, index.bands)
    val cand = index.rows.as("a")
      .join(bandN.as("b"), Seq("band_idx", "band_hash"))
      .where(col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    verifyPairs(cand, corpusSh, newSh, threshold)
  }

  /** SimHash near-dup pairs: 64-bit signatures, 4x16-bit band blocking,
    * Hamming distance ≤ maxHamming.
    *
    * `tokenHash` (optional) maps the token column to a caller-supplied
    * BIGINT hash fed to the signature as-is, instead of the default
    * internal xxhash64 — the auditable mode: with a content-stable hash
    * (e.g. sha256-derived bits) the signatures, bands, and pair set are
    * reproducible by ANY engine, at the cost of a slower per-token hash.
    */
  def simhashPairs(sh: DataFrame, maxHamming: Int = 3,
                   tokenHash: Option[Column => Column] = None): DataFrame = {
    val spark = sh.sparkSession
    graft.functions.SimHashAgg.register(spark)
    val ex0 = sh.select(col("doc_id"), explode(col("toks")).as("tok"))
    val ex = tokenHash.fold(ex0)(f =>
      ex0.select(col("doc_id"), f(col("tok")).cast("long").as("tok")))
    val sig = ex.groupBy("doc_id").agg(expr("simhash_sig(tok)").as("sig"))
    // same single-materialization treatment as [[minhashPairs]]: the
    // self-join must not recompute the signature aggregation per side.
    // The persist alone is NOT enough: it is lazy, and the self-join's
    // two scan stages start CONCURRENTLY over the cold cache — tasks of
    // both sides race per partition through BlockManager.getOrElseUpdate
    // and each computes the CPU-dense signature aggregation again
    // (observed as bench `state_divergent` on q_dedup_simhash: loaded
    // executor CPU ~6x unloaded on an uncontended host, because under
    // submitter load the two stages interleave for long enough to
    // double-touch every partition). One eager count() populates the
    // cache in a SINGLE stage first; both join sides then read blocks,
    // never recompute.
    val bandRows = pin(sig.select(col("doc_id"), col("sig"), posexplode(expr(
        "transform(sequence(0, 3), b -> shiftright(sig, b*16) & 65535L)")))
      .toDF("doc_id", "sig", "band_idx", "band_val")
      .repartition(col("band_idx"), col("band_val"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    bandRows.count()
    bandRows.as("a").join(bandRows.as("b"), Seq("band_idx", "band_val"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(expr("a.sig ^ b.sig")).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine pairs ≥ threshold among the given vectors
    * (all-pairs — pre-block or sample the input for large corpora; see
    * Similarity.ivfTopK for the probed path).
    */
  def embeddingPairs(vectors: DataFrame, idCol: String, vecCol: String,
                     threshold: Double): DataFrame = {
    val spark = vectors.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val e = vectors.select(col(idCol).as("vid"),
      col(vecCol).cast("array<double>").as("v"))
    val a = e.select(col("vid").as("id_a"), col("v").as("va"))
    val b = e.select(col("vid").as("id_b"), col("v").as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", expr("cosine_sim(va, vb)"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** LSH-blocked embedding pairs — the scale path [[embeddingPairs]]'
    * contract points at: vectors are bucketed by `bits` sign-LSH bits
    * (Charikar'02 random hyperplanes), candidates are generated only
    * WITHIN buckets (an equi-join on the bucket key — O(Σ bucket²),
    * never corpus²), and survivors are verified with exact cosine.
    * P[pair shares a bucket] = (1 − θ/π)^bits for a pair at angle θ, so
    * near-duplicates (θ→0) are found w.h.p. while distant pairs rarely
    * collide; lower `bits` for recall, raise it for pruning.
    */
  def embeddingPairsLsh(vectors: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, bits: Int = 8): DataFrame = {
    val spark = vectors.sparkSession
    graft.functions.VectorFunctions.register(spark)
    // bucketed frame materialized once (same rationale as the minhash
    // band rows): the self-join would otherwise scan the vectors and
    // recompute the bits x dim hyperplane dot products per side
    val e = pin(vectors.select(col(idCol).as("vid"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("bucket", Similarity.lshBucket("v", bits))
      .repartition(col("bucket"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val a = e.select(col("vid").as("id_a"), col("v").as("va"), col("bucket"))
    val b = e.select(col("vid").as("id_b"), col("v").as("vb"), col("bucket"))
    a.join(b, Seq("bucket"))
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", expr("cosine_sim(va, vb)"))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos"), 4).as("cos"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication at corpus scale — cluster the embeddings into cells
    * (k-means centroids from the caller), then WITHIN each cell drop
    * every vector that has a lower-id neighbor at cosine ≥ `threshold`.
    * Returns the surviving (vec_id, cent_id) rows. The keep rule is
    * min-id dominance: a vector is dropped iff ANY lower-id vector in
    * its cell is within threshold, whether or not that dominator itself
    * survives — one deterministic pass, no iteration, the
    * keep-one-representative policy of the paper up to dominance
    * chains. Near-duplicate pairs that straddle a cell boundary are NOT
    * seen — exactly the recall trade SemDeDup makes to avoid the
    * corpus² comparison (raise k for pruning, lower it for recall).
    *
    * Scale shape: centroid assignment is a single narrow scan (the
    * broadcast-fold argmax of [[Similarity.ivfIndex]] — no corpus×k
    * blowup); the assigned frame materializes ONCE, partitioned by
    * cell, and both sides of the within-cell self-join inherit that
    * exchange; candidate work is O(Σ cell²), bounded by the k-means
    * balance, never corpus². The survivors anti-join is on the same
    * materialized frame.
    */
  def semanticDedup(vectors: DataFrame, centroids: DataFrame,
                    idCol: String, vecCol: String,
                    threshold: Double): DataFrame = {
    val spark = vectors.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val idx = pin(Similarity.ivfIndex(vectors, centroids, idCol, vecCol)
      .repartition(col("cent_id"))
      .persist(StorageLevel.MEMORY_AND_DISK))
    val a = idx.select(col("cent_id"), col("vec_id").as("id_a"), col("v").as("va"))
    val b = idx.select(col("cent_id"), col("vec_id").as("id_b"), col("v").as("vb"))
    val dominated = a.join(b, Seq("cent_id"))
      .where(col("id_a") < col("id_b"))
      .where(expr("cosine_sim(va, vb)") >= threshold)
      .select(col("id_b").as("vec_id")).distinct()
    idx.join(dominated, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cent_id"))
  }

  /** Incremental SemDeDup: which of the `incoming` vectors survive
    * against an ESTABLISHED corpus? A newcomer is dropped iff its cell
    * holds EITHER any corpus vector within `threshold` (the corpus is
    * settled — its internal duplicates are its own concern, the same
    * convention as [[incrementalMinhashPairsIndexed]]) OR a lower-id
    * fellow newcomer within threshold (one representative per batch of
    * mutual duplicates). `corpusIndex` is the [[Similarity.ivfIndex]]
    * frame (vec_id, v, cent_id) — at deployment scale a
    * cent_id-bucketed table ([[Similarity.ivfIndexBucketed]]) written
    * once, so the corpus never re-shuffles: per-run cost ∝ increment.
    *
    * Scale shape: the increment assigns through the broadcast-fold
    * argmax (no shuffle) and materializes once partitioned by cell;
    * the corpus join is cell-keyed (bucket-layout-aligned when the
    * index is bucketed); the peer join is the within-cell self-join of
    * the increment ONLY. Nothing is ever corpus × corpus.
    */
  def semanticDedupIncrement(corpusIndex: DataFrame, centroids: DataFrame,
                             incoming: DataFrame, idCol: String,
                             vecCol: String, threshold: Double): DataFrame =
    semanticDedupIncrementAssigned(corpusIndex,
      Similarity.ivfIndex(incoming, centroids, idCol, vecCol), threshold)

  /** [[semanticDedupIncrement]] over an ALREADY-ASSIGNED increment
    * (the [[Similarity.ivfIndex]] frame (vec_id, v, cent_id)) — the
    * entry point for callers that computed the assignment for their own
    * purposes (the streaming replay folds it into its `_seen` set) and
    * must not pay the centroid argmax scan twice per batch.
    * `pinIncrement = false` skips the internal persist: the streaming
    * replay already holds its batch persisted and runs on a child
    * session whose pins Graft.clear never reaches — pinning there would
    * leak one cached frame per micro-batch for the session's lifetime.
    */
  def semanticDedupIncrementAssigned(corpusIndex: DataFrame,
                                     incomingAssigned: DataFrame,
                                     threshold: Double,
                                     pinIncrement: Boolean = true): DataFrame = {
    val spark = incomingAssigned.sparkSession
    graft.functions.VectorFunctions.register(spark)
    val base = incomingAssigned
      .select(col("vec_id"), col("v"), col("cent_id"))
      .repartition(col("cent_id"))
    val inc =
      if (pinIncrement) pin(base.persist(StorageLevel.MEMORY_AND_DISK))
      else base
    val byCorpus = inc.as("n")
      .join(corpusIndex.as("c"), Seq("cent_id"))
      .where(expr("cosine_sim(n.v, c.v)") >= threshold)
      .select(col("n.vec_id").as("vec_id"))
    val byPeer = inc.as("a").join(inc.as("b"), Seq("cent_id"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .where(expr("cosine_sim(a.v, b.v)") >= threshold)
      .select(col("b.vec_id").as("vec_id"))
    inc.join(byCorpus.unionAll(byPeer).distinct(), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cent_id"))
  }

  /** One large-star round (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC'14, Alg. 3): every node connects each
    * strictly-LARGER neighbor to the node's local minimum (min of
    * itself and all neighbors). Input may carry duplicate canonical
    * (u < v) edges; the output is canonical and loop-free by
    * construction (mn ≤ n < b) and NOT deduplicated — min/groupBy is
    * multiplicity-insensitive, so [[duplicateClusters]] dedupes ONCE
    * per batched materialization instead of paying a distinct shuffle
    * inside every star op (duplicates only arise from multi-path
    * merges, ≤2× per op, and are cut at each batch boundary).
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val adj = e.select(col("u").as("n"), col("v").as("b"))
      .union(e.select(col("v").as("n"), col("u").as("b")))
    val mins = adj.groupBy("n").agg(min(col("b")).as("mb"))
      .select(col("n"), least(col("n"), col("mb")).as("mn"))
    adj.join(mins, "n")
      .where(col("b") > col("n"))
      .select(col("mn").as("u"), col("b").as("v"))
  }

  /** One small-star round (Kiveris'14, Alg. 4): every node connects its
    * smaller neighbors AND itself to the minimum of those neighbors.
    * Canonical edges already point small→large, so keying by `v` gives
    * exactly the smaller-neighbor lists; mb < b < n keeps the output
    * canonical. Duplicate-tolerant and undeduplicated, like
    * [[largeStar]] — the batch boundary dedupes.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val adj = e.select(col("v").as("n"), col("u").as("b"))
    val mins = adj.groupBy("n").agg(min(col("b")).as("mb"))
    adj.join(mins, "n")
      .where(col("b") =!= col("mb"))
      .select(col("mb").as("u"), col("b").as("v"))
      .union(mins.select(col("mb").as("u"), col("n").as("v")))
  }

  /** Connected components over a duplicate-pair edge list: every doc in
    * a pair gets the minimum doc_id of its transitive component as
    * `cluster` — the step that turns pairwise near-dup detection into
    * keep-one-per-cluster decisions.
    *
    * Alternating large-star/small-star rounds (Kiveris'14): the edge set
    * contracts toward a star forest whose centers are the component
    * minima in O(log n) rounds REGARDLESS of component shape. Min-label
    * propagation (the previous implementation here) needs O(diameter)
    * rounds — fine for near-clique duplicate clusters, pathological on
    * chain-shaped components (a 1000-node path is 1000 rounds; the star
    * algorithm does it in a handful). Each half-round is a groupBy plus
    * a join back on the grouping key over localCheckpoint'd edges, so
    * round N never replays rounds 1..N-1 and every shuffle is on the
    * node id.
    *
    * Convergence = the canonical edge set reaches a fixpoint, checked
    * deterministically (equal count AND no edge outside the previous
    * set ⇒ equal sets) — no hash fingerprints that could collide into a
    * false early stop. Throws after `maxIter` rounds (components of
    * ~2^maxIter nodes) rather than silently emitting a non-fixpoint
    * labeling.
    */
  /** Star rounds (large+small alternations) the most recent
    * [[duplicateClusters]] phase-2 fixpoint took — a test hook pinning
    * the round count (LinkageSpec asserts a 1000-node path converges in
    * the O(log n) budget), not a public API. 0 when phase 1 converged.
    */
  private[graft] val lastStarRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** `maxIter` bounds STAR ROUNDS, not lineage: every two alternations
    * are localCheckpoint'd and superseded blocks released, so depth
    * costs one pinned edge copy regardless of round count — the same
    * patience-not-lineage discipline as pageRank/bfsLevels'
    * `checkpointEvery` (here the cadence is every batch, the natural
    * unit of this loop). The default 60 covers components of ~2^30
    * nodes in the worst (chain) shape; real duplicate clusters are
    * near-cliques that converge in ≤4 rounds, and the loop exits at
    * the fixpoint, so a generous ceiling costs nothing.
    *
    * `localFinishEdges` is the Kiveris'14 small-graph finish: whenever
    * the CURRENT canonical edge set (the input's, or any contracted
    * round's — the loop re-checks after every batch) fits under the
    * threshold, the labels are finished on the driver by union-find
    * ([[unionFindLabels]]) instead of more shuffle rounds. Fixpoint
    * iteration over a tiny frame is driver-ROUND-TRIP bound: a
    * profiled sf0.1 run (tools/CcProfile, 13.5k edges) spent 6.4 s
    * of wall on ~60 scheduling-bound stages and 3.7 s of between-stage
    * driver gaps for work a single driver pass does in milliseconds —
    * the exact shape Kiveris et al. finish locally. Results are
    * bit-identical either way (component minima are partitioning-
    * independent; LinkageSpec pins local ≡ distributed on a random
    * graph), the collect is bounded by the threshold (≤ ~16 MB of
    * longs at the default), and 0 disables the finish (the
    * star-round-count pins force the distributed path this way).
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 60,
                        localFinishEdges: Long = 500000L): DataFrame = {
    require(localFinishEdges >= 0 && localFinishEdges < Int.MaxValue,
      s"localFinishEdges must be in [0, Int.MaxValue): $localFinishEdges")
    // the long canonicalization below silently nulls NON-NUMERIC ids
    // (string ids cast to NULL outside ANSI mode), and the half-null
    // drop would then discard every pair — an empty result instead of
    // an error. Reject non-integral id columns loudly instead; string
    // ids need a keyed surrogate (e.g. xxhash64) from the caller.
    Seq("doc_a", "doc_b").foreach { c =>
      val dt = pairs.schema(c).dataType
      require(Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.ByteType).contains(dt),
        s"duplicateClusters id column '$c' must be an integral type, " +
          s"got ${dt.simpleString} — map string ids to a stable " +
          "surrogate (e.g. xxhash64) before clustering")
    }
    // Ids are canonicalized to BIGINT and half-null pairs dropped ONCE
    // here, for every path below. Both matter for path equivalence:
    // least/greatest SKIP nulls, so a half-null pair (x, null) would
    // reach the fast path as a synthetic self-pair (x, x) and mint a
    // singleton cluster the distributed filters (u =!= v on edges,
    // doc_a === doc_b on selfOnly — both NULL-false for half-nulls)
    // never emit; and Row.getLong in the driver finish would throw on
    // IntegerType ids the star path used to tolerate, with the two
    // paths disagreeing on the output schema besides.
    val canon = pairs.select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b"))
      .where(col("doc_a").isNotNull && col("doc_b").isNotNull)
    // Small-INPUT fast path: ONE bounded action both decides and
    // fetches — limit(threshold+1) collects the complete canonical
    // pair multiset iff the raw count fits (one extra row = too big;
    // the fall-through then cost one bounded scan and nothing else).
    // This skips the distinct exchange, the checkpoint, AND the
    // self-pair anti-join plan: union-find tolerates duplicate and
    // self pairs directly, so the raw projection is enough. The
    // threshold compares the RAW pair count (≥ the distinct edge
    // count) — conservative: a heavily-duplicated big input takes the
    // distributed path and still gets the mid-loop finish below.
    if (localFinishEdges > 0) {
      val cap = localFinishEdges.toInt + 1
      val got = canon
        .select(least(col("doc_a"), col("doc_b")).as("u"),
          greatest(col("doc_a"), col("doc_b")).as("v"))
        .limit(cap).collect()
      if (got.length < cap) {
        lastStarRounds.set(0)
        return unionFindRows(pairs.sparkSession, got)
      }
    }
    val edges0 = canon
      .select(least(col("doc_a"), col("doc_b")).as("u"),
        greatest(col("doc_a"), col("doc_b")).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(false)
    // a doc whose only pair row is a self-pair has no canonical edge but
    // is still "in pairs" — it labels itself (the contract is a cluster
    // row for EVERY doc appearing in the input). PLAN-level, not an
    // eager isEmpty probe: the anti-join costs ~2 stages inside the
    // caller's one action, where a driver-side emptiness check costs a
    // whole extra blocking round trip every call.
    val selfOnly = canon.filter(col("doc_a") === col("doc_b"))
      .select(col("doc_a").as("doc_id"), col("doc_a").as("cluster"))
      .distinct()
    def withSelf(labels: DataFrame): DataFrame =
      labels.union(selfOnly.join(labels, Seq("doc_id"), "left_anti"))

    // Alternating large-star/small-star rounds (Kiveris'14) from the
    // raw edges — O(log n) rounds regardless of component shape.
    // (An earlier revision front-ran 3 min-label rounds as a
    // near-clique fast path, but phase 2 restarted from the EDGES, so
    // for any input that didn't converge in 3 rounds the whole phase
    // was discarded work: 3-4 blocking actions. Star rounds reach a
    // clique's fixpoint in ≤2 alternations anyway — the fast path
    // saved nothing it didn't cost.)
    //
    // Latency shape: fixpoint iteration over a contracting frame is
    // driver-ROUND-TRIP bound, not data bound (round-12's q_graph_cc:
    // 5.4 s wall on 4 s CPU across ~30 blocking actions). So the loop
    // is organized around ONE action per two alternations:
    //  - TWO alternations are batched per materialization, star ops
    //    carry no per-op distinct (multiplicity-insensitive algebra;
    //    ONE distinct at the batch boundary), and the checkpoint is
    //    LAZY — the convergence aggregate materializes it in-job;
    //  - convergence is FUSED into that aggregate: a left join against
    //    the previous edge set counts total and matched rows at once
    //    (equal count + all matched ⇔ equal sets, both sides distinct)
    //    — no separate count, no separate anti-join probe. At the
    //    fixpoint the batched F∘F wastes one no-op pass; F is
    //    deflationary, so F∘F(E)=E implies F(E)=E and the check stays
    //    exact.
    //
    // Superseded localCheckpoints are released as soon as the next
    // batch has materialized from them — long runs must not accumulate
    // pinned block-store copies of every intermediate edge set. Only
    // the checkpoint backing the RETURNED frame stays pinned; the
    // context cleaner releases it once the caller drops the result.
    // (Dataset.unpersist would be a no-op here — checkpoint blocks are
    // RDD-level, not cache-manager entries — hence dropLocalCheckpoint.)
    var edges = edges0
    var n = edges.count() // materializes edges0's lazy checkpoint
    if (n == 0) {
      lastStarRounds.set(0)
      return withSelf(
        edges0.select(col("u").as("doc_id"), col("v").as("cluster")))
    }
    var converged = false
    var starRounds = 0
    var local: Option[DataFrame] = None
    while (local.isEmpty && !converged && starRounds < maxIter) {
      if (n <= localFinishEdges) {
        local = Some(unionFindLabels(pairs.sparkSession, edges))
        // the collect above was the checkpoint's last read
        dropLocalCheckpoint(edges)
      } else {
        val next = smallStar(largeStar(smallStar(largeStar(edges))))
          .distinct()
          .localCheckpoint(false)
        val agg = next
          .join(edges.withColumn("_old", lit(1)), Seq("u", "v"), "left")
          .agg(count(lit(1)).as("n"), count(col("_old")).as("m"))
          .head()
        val (nNext, matched) = (agg.getLong(0), agg.getLong(1))
        converged = nNext == n && matched == nNext
        // the convergence join was the old batch's last use; drop its
        // pinned blocks before looping (see above)
        dropLocalCheckpoint(edges)
        edges = next
        n = nNext
        starRounds += 2
      }
    }
    lastStarRounds.set(starRounds)
    if (local.isEmpty && !converged) throw new IllegalStateException(
      s"duplicateClusters: no fixpoint after $maxIter star rounds — " +
        "raise maxIter (results would otherwise be a silently-wrong " +
        "non-fixpoint labeling)")
    // at the fixpoint every component is a star centered at its minimum:
    // members label from their center, centers label themselves
    withSelf(local.getOrElse(
      edges.select(col("v").as("doc_id"), col("u").as("cluster"))
        .union(edges.select(col("u"), col("u")).distinct()
          .toDF("doc_id", "cluster"))))
  }

  /** Driver union-find over a bounded edge set (the [[duplicateClusters]]
    * small-graph finish): union-by-minimum keeps every root the
    * component's minimum id — the exact label the distributed fixpoint
    * produces — and path halving keeps finds amortized O(log n) even
    * under the unbalanced-by-design min unions. One pass over the
    * edges, one over the nodes; the result ships back as a distributed
    * frame (parallelize, not a driver-local relation, so downstream
    * joins scan it like any other frame).
    */
  private def unionFindLabels(s: SparkSession, edges: DataFrame): DataFrame =
    unionFindRows(s, edges.select(col("u"), col("v")).collect())

  /** The union-find core over collected (u, v) rows: tolerates
    * duplicate pairs (idempotent unions) and SELF pairs (the node just
    * registers — labels itself unless a real edge merges it, the same
    * semantics the distributed path's self-pair anti-join provides).
    * Ids arrive BIGINT and null-free (duplicateClusters canonicalizes
    * before either path); the null guard below is belt-and-braces for
    * other callers.
    */
  private def unionFindRows(s: SparkSession,
                            arr: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrDefault(x, x)
      while (p != x) {
        val gp = parent.getOrDefault(p, p)
        parent.put(x, gp) // path halving
        x = gp
        p = parent.getOrDefault(x, x)
      }
      x
    }
    val nodes = new java.util.LinkedHashSet[Long]()
    arr.foreach { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1)) {
        val (u, v) = (r.getLong(0), r.getLong(1))
        nodes.add(u); nodes.add(v)
        if (u != v) {
          val (ru, rv) = (find(u), find(v))
          if (ru != rv) {
            if (ru < rv) parent.put(rv, ru) else parent.put(ru, rv)
          }
        }
      }
    }
    import scala.jdk.CollectionConverters._
    val rows = nodes.asScala.toSeq.map(nd => (nd, find(nd)))
    import s.implicits._
    s.sparkContext
      .parallelize(rows, math.max(1, math.min(32, rows.size / 100000 + 1)))
      .toDF("doc_id", "cluster")
  }

  /** Remove near-duplicates: keeps the smallest doc_id of every pair
    * component (greedy per-pair loser drop). For sparse pair graphs this
    * can keep more than one member of a transitive component (a node
    * that never appears as doc_b survives) — use
    * [[dropNearDuplicatesByCluster]] for exactly-one-per-component.
    */
  /** CCNet-style paragraph-level exact dedup (Wenzek et al. 2020): cut
    * every repeated paragraph from all occurrences but the first and
    * keep the shortened document — the crawl-pipeline pass that strips
    * boilerplate navigation/footer blocks repeated across a site
    * without dropping whole pages. Corpora without explicit paragraph
    * breaks (this project's single-line synthetic docs included)
    * segment deterministically into fixed `segTokens`-token blocks
    * (last block may be short), which keeps the rule engine-replayable;
    * a corpus with real newlines would pass its own segmentation in.
    *
    * Keeper = the min (doc_id, seg_idx) occurrence of each DISTINCT
    * segment content corpus-wide — the same total keeper rule as
    * [[removeSharedSegments]], covering within-doc repeats too.
    * Segments are keyed by xxhash64 of their text (8-byte exchange, the
    * postings trick); a hash collision would merge two distinct
    * paragraphs — the same accepted trade as the gram keys in
    * [[sharedSegmentCoverage]].
    *
    * Scale shape: ONE materialized segment exchange hash-partitioned on
    * the key feeds both the keeper aggregation (map-side partial min —
    * a paragraph repeated 10⁶ times costs a combine, never a window)
    * and the keeper-equality join (exchange-aligned, zero extra
    * shuffle); the stitch is a per-doc aggregation of the kept rows.
    * No corpus-sized window, no broadcast of anything corpus-sized.
    */
  /** Materialized, h-co-partitioned (doc_id, seg_idx, h, seg) segment
    * frame: deterministic fixed-width segmentation, xxhash64 keys.
    * size(w) >= 1 always (split of "" is [""]), so every doc has >= 1
    * segment and the sequence bound is well-formed. ONE exchange feeds
    * keeper aggregation, keeper-equality join, and per-doc totals.
    */
  /** The fixed-width segment-list expression over a split-token column
    * `w` — ONE definition shared by [[segmentFrame]] and
    * TextAnalysis.duplicateSegmentStats, so the per-doc repetition
    * diagnostic and the corpus dedup can never silently diverge on
    * segmentation (boundary, separator, last-block handling).
    */
  private[graft] def segmentListSql(segTokens: Int): String =
    s"""transform(sequence(0, ((size(w) + ${segTokens - 1}) div $segTokens) - 1),
          i -> concat_ws(' ', slice(w, i * $segTokens + 1, $segTokens)))"""

  private[graft] def segmentFrame(docs: DataFrame, idCol: String,
                                  textCol: String, segTokens: Int,
                                  pinFrame: Boolean = true): DataFrame = {
    val f = docs.select(col(idCol).as("doc_id"),
        split(col(textCol), " ").as("w"))
      .select(col("doc_id"), posexplode(expr(segmentListSql(segTokens))))
      .select(col("doc_id"), col("pos").cast("long").as("seg_idx"),
        xxhash64(col("col")).as("h"), col("col").as("seg"))
      .repartition(col("h"))
    // pinFrame=false: the streaming replay owns the lifecycle (persist +
    // unpersist per micro-batch in a CHILD session Graft.clear never
    // sees — a session-registry pin there would leak, the sem-replay
    // pinIncrement lesson)
    if (pinFrame) pin(f.persist(StorageLevel.MEMORY_AND_DISK)) else f
  }

  /** Shared stitch tail for the paragraph family: kept rows → per-doc
    * stitched text + counts, with totals off the segment exchange (an
    * agg, not a second corpus scan); docs whose every segment was cut
    * come back with empty text — shortened, never dropped.
    */
  private def stitchSegments(segs: DataFrame, kept: DataFrame): DataFrame = {
    val stitched = kept.groupBy("doc_id")
      .agg(concat_ws(" ", expr(
        "transform(array_sort(collect_list(struct(seg_idx, seg))), s -> s.seg)"))
        .as("text_clean"),
        count(lit(1)).as("n_kept"))
    segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
      .join(stitched, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("text_clean"), lit("")).as("text_clean"),
        col("n_segs"),
        (col("n_segs") - coalesce(col("n_kept"), lit(0L))).as("n_removed"))
  }

  def dropDuplicateParagraphs(docs: DataFrame, idCol: String,
                              textCol: String,
                              segTokens: Int = 15): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    val segs = segmentFrame(docs, idCol, textCol, segTokens)
    val keeper = segs.groupBy("h")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("kp"))
    val kept = segs.join(keeper, Seq("h"))
      .filter(col("doc_id") === col("kp.doc_id") &&
        col("seg_idx") === col("kp.seg_idx"))
    stitchSegments(segs, kept)
  }

  /** Incremental paragraph dedup: cut from INCREMENT docs every segment
    * that already exists in the (immutable, published) corpus, plus
    * within-increment repeats beyond their min (doc_id, seg_idx)
    * occurrence — the arriving-crawl shape where yesterday's corpus is
    * frozen and today's batch defers to it. Corpus-priority semantics:
    * an increment occurrence NEVER displaces a corpus segment, even
    * with a smaller doc id (unlike the batch keeper rule, which is
    * id-total across the union). Output covers increment docs only.
    *
    * Scale shape: the corpus collapses to its DISTINCT segment-hash set
    * (8 bytes per distinct segment — the persisted-index shape: a 100 TB
    * deployment writes it bucketed on h once and attaches, the
    * [[buildBandIndex]] discipline) and the increment pays one
    * co-partitioned anti-join against it; keeper selection and stitch
    * touch increment rows only, so per-run cost ∝ increment, never
    * corpus.
    */
  def incrementalParagraphDedup(corpus: DataFrame, incr: DataFrame,
                                idCol: String, textCol: String,
                                segTokens: Int = 15): DataFrame =
    incrementalParagraphDedupByHash(
      segmentHashes(corpus, idCol, textCol, segTokens),
      incr, idCol, textCol, segTokens)

  /** The distinct segment-hash set of a corpus — the persisted-index
    * unit [[incrementalParagraphDedupByHash]] consumes (8 bytes per
    * distinct segment; a deployment writes it bucketed on h once).
    */
  private[graft] def segmentHashes(docs: DataFrame, idCol: String,
                                   textCol: String,
                                   segTokens: Int): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    // single traversal — persisting the corpus-sized frame here would
    // hold 4 columns of the whole corpus for no second consumer
    segmentFrame(docs, idCol, textCol, segTokens, pinFrame = false)
      .select("h").distinct()
  }

  /** [[incrementalParagraphDedup]] against a pre-built distinct
    * segment-hash frame (one `h` column) — the entry point the
    * streaming replay folds its seen-set through without re-segmenting
    * the corpus every micro-batch.
    */
  private[graft] def incrementalParagraphDedupByHash(
      corpusHashes: DataFrame, incr: DataFrame, idCol: String,
      textCol: String, segTokens: Int): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    incrementalParagraphSegments(corpusHashes,
      segmentFrame(incr, idCol, textCol, segTokens))
  }

  /** The keeper/anti-join/stitch tail over a pre-built increment
    * segment frame — lets the streaming replay segment each micro-batch
    * ONCE and feed both the dedup and its `_seen` hash fold.
    */
  private[graft] def incrementalParagraphSegments(
      corpusHashes: DataFrame, nseg: DataFrame): DataFrame = {
    val keeper = nseg.groupBy("h")
      .agg(min(struct(col("doc_id"), col("seg_idx"))).as("kp"))
    val kept = nseg.join(keeper, Seq("h"))
      .filter(col("doc_id") === col("kp.doc_id") &&
        col("seg_idx") === col("kp.seg_idx"))
      .join(corpusHashes.select("h"), Seq("h"), "left_anti")
    stitchSegments(nseg, kept)
  }

  def dropNearDuplicates(docs: DataFrame, idCol: String, textCol: String,
                         threshold: Double = 0.5, n: Int = 4,
                         maxDf: Int = 10000): DataFrame = {
    val pairs = nearDuplicatePairs(shingles(docs, idCol, textCol, n),
      threshold, maxDf)
    val losers = pairs.select(col("doc_b").as(idCol)).distinct()
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Remove near-duplicates transitively: connected components over the
    * pair graph, keep exactly the minimum-id member of every component
    * (ApiSpec pins the one-representative-per-component property).
    */
  def dropNearDuplicatesByCluster(docs: DataFrame, idCol: String,
                                  textCol: String, threshold: Double = 0.5,
                                  n: Int = 4, maxDf: Int = 10000): DataFrame = {
    val pairs = nearDuplicatePairs(shingles(docs, idCol, textCol, n),
      threshold, maxDf)
    val losers = duplicateClusters(pairs)
      .filter(col("doc_id") =!= col("cluster"))
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Quality-aware dedup: keep the HIGHEST-`scoreCol` member of every
    * duplicate component (ties break on the id, so the choice is total)
    * instead of an arbitrary one — the production policy when
    * duplicates differ in quality (keep the longest / cleanest copy,
    * drop the truncated mirror). `clusters` is [[duplicateClusters]]
    * output; docs in no component always survive. Losers are the
    * rank>1 rows of one window over the cluster set — tiny relative to
    * the corpus, so the expensive side stays the two key joins.
    */
  def keepBestPerCluster(docs: DataFrame, idCol: String,
                         clusters: DataFrame, scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = clusters.join(
      docs.select(col(idCol).as("doc_id"), col(scoreCol).as("__s")), "doc_id")
    val w = Window.partitionBy("cluster")
      .orderBy(col("__s").desc, col("doc_id"))
    val losers = scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") =!= 1)
      .select(col("doc_id").as(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }
}
