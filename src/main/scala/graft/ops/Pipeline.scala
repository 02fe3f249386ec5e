package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api.{Decontamination, Dedup, Packing, SessionMemo, Similarity, Sketches, TextAnalysis}
import graft.ops.H._

/** Training-data pipeline inventory (SURVEY.md §2B q_dedup_*, q_text_*,
  * q_sim_*): thin bindings of the public graft.api operators to the
  * driver test tables, with the total orderings the hash-compare needs.
  * The operators themselves (graft.api.Dedup / Similarity / TextAnalysis)
  * take arbitrary DataFrames — that is the reusable library surface.
  */
object Pipeline {

  /** Shingle frames cached per (session, dir): every dedup query
    * branches over this frame 3-4 times and the shingle construction is
    * the expensive part.
    */
  private[graft] def shingled(s: SparkSession, dir: String): DataFrame =
    // memoized: the three dedup queries race this key in Bench; a
    // double-build would persist (and compute) the shingles twice.
    SessionMemo.persisted(s, "pipeline.sh", dir)(
      forced(Dedup.shingles(t(s, dir, "documents"), "doc_id", "text", n = 4)))

  /** A deterministic corpus-derived frame as a plain-parquet
    * [[graft.api.BuildCache]] entry keyed by `kind`, `ver` and the
    * fingerprint of the source table — no bucketing, these frames are
    * consumed by scans, not key joins. A COLD PROCESS whose sources are
    * unchanged reads the files instead of recomputing the build (the
    * pack-once / span-cut-once deployment shape); a rewritten source or
    * a bumped `ver` rebuilds.
    */
  private[graft] def cachedParquet(s: SparkSession, dir: String, kind: String,
                                   ver: Int, srcTable: String)
                                  (build: => DataFrame): DataFrame =
    graft.api.SchemaMemo.read(s, graft.api.BuildCache(s, kind, ver,
      Seq(s"$dir/$srcTable.parquet"), dir)(build.write.mode("overwrite").parquet(_)))

  /** Materialize a persisted shared frame BEFORE its memo hands it out:
    * the first caller pays the whole build inside its memo cell, so N
    * concurrent first-touch queries wait briefly and then read cached
    * blocks instead of EACH computing every partition of the same lazy
    * persist (Spark dedupes block WRITES, not the computation — the
    * "Block already exists; not re-adding" warning is N-1 discarded
    * full computations). Under the round-12 driver's half-cold window
    * that duplication burned 110.7 s of real executor CPU inside one
    * query's loaded timing vs 11.5 s unloaded, defeating the artifact's
    * contention *and* CPU columns at once.
    */
  private def forced(df: DataFrame): DataFrame = { df.count(); df }

  /** The packed token-stream digest frame per (session, dir):
    * q_pack_token_stream and q_pack_shuffle both consume it, and the
    * BPE encode + two-phase offsets behind it are the expensive part —
    * without sharing, the shuffle query recomputes the entire pack.
    * The digest is |stream|/seqLen rows (thousands, not corpus-sized),
    * so the persist is cheap; the amortized-build accounting lands in
    * Bench's builds map like the other shared frames.
    */
  private[graft] def packedStream(s: SparkSession, dir: String): DataFrame =
    // persist WITHOUT a Pins registration (the shingled discipline):
    // pin-capped eviction could unpersist the shared frame mid-session
    // while the memo still hands it out — Graft.clear owns the
    // lifecycle instead. ver ties to the pack recipe: BpeNumMerges,
    // BpeVocabCap, seqLen — bump on change.
    SessionMemo.persisted(s, "pipeline.pack", dir)(
      forced(cachedParquet(s, dir, "pack", 1, "documents") {
        graft.api.Packing.packTokenStream(t(s, dir, "documents"),
          "doc_id", "text", bpeMerges(s, dir), seqLen = 128)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))

  /** The span-cut corpus (removeSharedSegments k=8, minLen=3) per
    * (session, dir): q_dedup_span_removal and the composed
    * q_pipeline_e2e_span both consume it — sharing saves the gram
    * exchange + islands pass the second consumer would repeat.
    */
  private[graft] def spanCut(s: SparkSession, dir: String): DataFrame =
    // persist without a Pins registration — see packedStream. ver ties
    // to the span recipe (k=8, minLen=3) — bump on change.
    SessionMemo.persisted(s, "pipeline.span", dir)(
      forced(cachedParquet(s, dir, "spancut", 1, "documents") {
        Dedup.removeSharedSegments(t(s, dir, "documents"),
          "doc_id", "text", k = 8, minLen = 3)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))

  /** The 90%-corpus MinHash band index per (session, dir) — persisted
    * as bucketed external tables under the scratch dir (band rows on
    * (band_idx, band_hash), corpus shingles on doc_id) and guarded by a
    * corpus-file fingerprint, so a COLD session attaches the files
    * instead of re-shingling and re-signing the corpus: the
    * sign-once / increment-forever shape the 100 TB deployment needs.
    * Shared by the batch incremental query and the streaming replay.
    */
  private[graft] def corpusBands(s: SparkSession, dir: String): Dedup.BandIndex =
    corpusBandsSh(s, dir)._1

  private[graft] def corpusBandsSh(s: SparkSession,
                                   dir: String): (Dedup.BandIndex, DataFrame) =
    SessionMemo(s, "pipeline.bands", dir)(
      Dedup.cachedBandIndex(s, dir, Seq(s"$dir/documents.parquet"))(
        shingled(s, dir).filter(col("doc_id") % 10 =!= 0)))

  /** The persisted corpus segment-hash index per (session, dir) — a
    * build-cache entry like [[corpusBandsSh]]: a cold session ATTACHES
    * the bucketed files instead of re-segmenting the 90% corpus. Shared
    * by the batch incremental paragraph query and its streaming replay.
    */
  private[graft] def corpusSegIndex(s: SparkSession, dir: String): DataFrame =
    SessionMemo(s, "pipeline.segIdx", dir)(
      Dedup.cachedSegmentIndex(s, dir, Seq(s"$dir/documents.parquet"),
          segTokens = 15)(
        Dedup.segmentHashes(t(s, dir, "documents")
          .filter(col("doc_id") % 10 =!= 0), "doc_id", "text", 15)))

  /** Shingles of ONLY the 10% increment slice, filtered BEFORE the
    * shingle transform so a cold session pays 10% of the corpus — the
    * full-corpus [[shingled]] cache would materialize everything even
    * under a post-hoc doc_id filter.
    */
  private[graft] def incrShingled(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persisted(s, "pipeline.sh", dir + "#incr")(
      forced(Dedup.shingles(t(s, dir, "documents")
        .filter(col("doc_id") % 10 === 0), "doc_id", "text", n = 4)))

  /** Perplexity vocabulary per (session, dir) — bounded driver-literal
    * metadata (≤ PplVocab strings), the bpeMerges discipline: the cut
    * is deterministic and re-collecting it cost a full tokenize +
    * top-V job per construct (measured 0.43 s of warm driver time on
    * the loaded suite's serialized driver path).
    */
  private def pplVocabOf(s: SparkSession, dir: String): Seq[String] =
    SessionMemo(s, "pipeline.pplVocab", dir)(
      TextAnalysis.perplexityVocab(t(s, dir, "documents"),
        "doc_id", "text", PplVocab))

  /** A driver-side literal table as TSV lines in a
    * [[graft.api.BuildCache]] entry (the cachedParquet discipline for
    * k×dim-sized driver metadata). The doubles round-trip via
    * Double.toString / parseDouble (shortest-round-trip), and every
    * caller reads the lines back from the entry, so a cold process ranks
    * against the EXACT doubles an earlier process trained — the
    * training jobs (k-means folds, PQ rounds) run once per corpus, not
    * once per process, and literal values become run-invariant (Lloyd's
    * fp sums are merge-order sensitive; loading removes even that
    * residual variance).
    */
  private[graft] def cachedLines(s: SparkSession, dir: String, kind: String,
                                 ver: Int, srcTable: String)
                                (compute: => Seq[String]): Seq[String] = {
    val out = graft.api.BuildCache(s, kind, ver,
        Seq(s"$dir/$srcTable.parquet"), dir) { out =>
      java.nio.file.Files.writeString(java.nio.file.Paths.get(out, "data.tsv"),
        compute.mkString("\n"))
    }
    java.nio.file.Files.readString(java.nio.file.Paths.get(out, "data.tsv"))
      .split("\n").toSeq.filter(_.nonEmpty)
  }

  /** k-means centroids per (session, dir), computed ONCE and shared by
    * the Spark query and the oracle-SQL resolver: the Lloyd means are
    * floating-point sums whose exact low bits depend on summation order
    * (engine- and run-specific), so the cross-engine contract is the
    * centroid VALUES — both sides rank against literally identical
    * doubles, exactly like the driver-literal centroids in
    * q_sim_ivf_bucketed. k×dim doubles of driver metadata.
    */
  private[graft] def kmeansCents(s: SparkSession,
                                 dir: String): Seq[(Long, Seq[Double])] =
    SessionMemo(s, "pipeline.kmeans", dir)(
      cachedLines(s, dir, "kmcents", 1, "embeddings") {
          Similarity.kmeansCentroids(t(s, dir, "embeddings"),
              "vec_id", "embedding", k = 16, iters = 2)
            .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
            .map { case (cid, cv) => s"$cid\t${cv.mkString(",")}" }
        }.map { line =>
          val Array(cid, cv) = line.split("\t", 2)
          (cid.toLong, cv.split(",").toSeq.map(_.toDouble))
        })

  private[graft] val kmeansPlaceholder = "__GRAFT_KMEANS_CENTS__"

  /** Resolve [[kmeansPlaceholder]] into DuckDB VALUES rows of the
    * centroids the Spark query will use — Double.toString is shortest-
    * round-trip, so DuckDB parses back the identical doubles. Runs at
    * oracle-dump time (Verify has an active session and has pinned
    * Sources.oracleSfDir); with no active session the placeholder is
    * left unresolved, which only arises in contexts that never execute
    * the oracle.
    */
  private[graft] def resolveOracle(sql: String): String =
    resolvePqBooks(resolveBpeMerges(
      resolveTempThresholds(resolveLshPlanes(resolveKmeans(sql)))))

  private[graft] val PqM = 8
  private[graft] val PqKsub = 16

  /** PQ codebooks per (session, dir): m × ksub × dsub doubles of driver
    * metadata (the k-means discipline), shared by the index build, the
    * search, and the oracle literal.
    */
  private[graft] def pqBooks(s: SparkSession,
                             dir: String): Seq[Seq[(Long, Seq[Double])]] =
    SessionMemo(s, "pipeline.pq", dir)(
      cachedLines(s, dir, "pqbooks", 1, "embeddings") {
          val e = t(s, dir, "embeddings")
          Similarity.pqCodebooks(e, e.filter(col("vec_id") < 16),
              "vec_id", "embedding", m = PqM, ksub = PqKsub, iters = 2)
            .zipWithIndex.flatMap { case (cb, j) =>
              cb.map { case (code, cv) => s"$j\t$code\t${cv.mkString(",")}" }
            }
        }.map { line =>
          val Array(j, code, cv) = line.split("\t", 3)
          (j.toInt, code.toLong, cv.split(",").toSeq.map(_.toDouble))
        }.groupBy(_._1).toSeq.sortBy(_._1)
          .map(_._2.sortBy(_._2).map { case (_, code, cv) => (code, cv) }))

  private[graft] val pqPlaceholder = "__GRAFT_PQ_BOOKS__"

  /** Shared IVF-PQ oracle CTE block (coarse assignment, residual
    * encoding vs the codebook literal, reconstruction, probing):
    * `cand` = (vec_id, cid, pq_raw) over the probed cells, `e` the
    * full-precision vectors, `q` the query. Used by q_sim_ivf_pq and
    * its exact-rerank twin.
    */
  private val pqCandCtes: String =
    s"""e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
              FROM embeddings),
        c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
        asg AS (SELECT e.vec_id, e.v, c.cid,
                       row_number() OVER (PARTITION BY e.vec_id
                         ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
                FROM e CROSS JOIN c),
        cell AS (SELECT vec_id, v, cid FROM asg WHERE rn = 1),
        cellv AS (SELECT cell.vec_id, cell.v, cell.cid, c.cv
                  FROM cell JOIN c ON c.cid = cell.cid),
        bk AS (SELECT * FROM (VALUES $pqPlaceholder) t(j, code, bv)),
        dist AS (SELECT cellv.vec_id, bk.j, bk.code, bk.bv,
                        list_reduce(list_transform(range(1, 9),
                          i -> (cellv.v[bk.j * 8 + i]
                                  - cellv.cv[bk.j * 8 + i]
                                  - bk.bv[i])
                             * (cellv.v[bk.j * 8 + i]
                                  - cellv.cv[bk.j * 8 + i]
                                  - bk.bv[i])),
                          (a, b) -> a + b) AS sqd
                 FROM cellv CROSS JOIN bk),
        enc AS (SELECT vec_id, j, bv FROM (
                  SELECT dist.*, row_number() OVER (
                    PARTITION BY vec_id, j
                    ORDER BY sqd ASC, code ASC) AS rn
                  FROM dist) WHERE rn = 1),
        vh AS (SELECT vec_id, flatten(list(bv ORDER BY j)) AS rhat
               FROM enc GROUP BY vec_id),
        vrec AS (SELECT cellv.vec_id, cellv.cid,
                        list_transform(range(1, len(cellv.cv) + 1),
                          i -> cellv.cv[i] + vh.rhat[i]) AS vhat
                 FROM cellv JOIN vh USING (vec_id)),
        q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
        probes AS (SELECT cid FROM c, q
                   ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 4),
        cand AS (SELECT vrec.vec_id, vrec.cid,
                        list_cosine_similarity(vrec.vhat, qv) AS pq_raw
                 FROM vrec JOIN probes ON probes.cid = vrec.cid, q
                 WHERE vrec.vec_id <> 1)"""

  /** `__GRAFT_PQ_BOOKS__` → DuckDB VALUES rows (j, code, bv) of the
    * trained PQ codebooks — CAST('<repr>' AS DOUBLE) components for the
    * same shortest-round-trip reasons as the k-means literal.
    */
  private def resolvePqBooks(sql: String): String =
    if (!sql.contains(pqPlaceholder)) sql
    else SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case None => sql
      case Some(s) =>
        scala.util.Try(pqBooks(s, Sources.oracleSfDir)) match {
          case scala.util.Failure(_) => sql
          case scala.util.Success(books) =>
            val rows = books.zipWithIndex.flatMap { case (cb, j) =>
              cb.map { case (code, cv) =>
                cv.map(d => s"CAST('$d' AS DOUBLE)")
                  .mkString(s"(CAST($j AS BIGINT), CAST($code AS BIGINT), [",
                    ", ", "])")
              }
            }.mkString(", ")
            sql.replace(pqPlaceholder, rows)
        }
    }

  private[graft] val BpeNumMerges = 200
  private[graft] val BpeVocabCap = 65536

  /** BPE merges learned once per (session, dir) from the corpus's
    * (word, count) table, CAPPED to the [[BpeVocabCap]] most frequent
    * words before the driver collect — the perplexityScore vocabulary
    * discipline. The uncapped distinct-word table is NOT driver-bounded
    * (100 TB of crawl text has billions of long-tail tokens); the
    * orderBy(count desc, word).limit(V) runs distributed (TakeOrdered
    * after a map-side-combined count), so driver rows are ≤ V by
    * construction. Truncating the frequency tail is the standard BPE
    * trainer behavior (merge counts over rare words are noise at any
    * realistic V); at test SFs the full vocabulary (31 words) sits far
    * under the cap, so outputs are byte-identical to uncapped training.
    * Sorted input for stability; the trainer itself is deterministic
    * (max count, lexicographic tiebreak).
    */
  private[graft] def bpeMerges(s: SparkSession,
                               dir: String): Seq[(String, String)] =
    SessionMemo(s, "pipeline.bpe", dir) {
      {
        val wc = t(s, dir, "documents")
          .select(explode(split(col("text"), " ")).as("word"))
          .groupBy("word").count()
          .orderBy(col("count").desc, col("word"))
          .limit(BpeVocabCap)
          .collect().map(r => r.getString(0) -> r.getLong(1))
          .toSeq.sortBy(_._1)
        // the oracle's merge-replay fold joints tokens with chr(30); a
        // corpus word containing that byte would corrupt the DuckDB
        // replay while Spark encodes fine — fail loudly instead of
        // silently diverging (the audioEnergyFromText ASCII-guard rule)
        wc.find(_._1.indexOf('\u001e') >= 0).foreach { case (w, _) =>
          throw new IllegalArgumentException(
            s"corpus word ${w.take(40)} contains chr(30), the BPE " +
              "oracle's fold separator — oracle replay would diverge")
        }
        graft.api.Bpe.train(wc, BpeNumMerges)
      }
    }

  private[graft] val bpePlaceholder = "__GRAFT_BPE_MERGES__"

  /** Shared oracle CTE block: per-word greedy BPE encode (recursive,
    * merge-all per round via a left-to-right string fold over chr(30)
    * joints — "a a a" under (a,a) folds to [aa, a] exactly like
    * [[graft.api.Bpe.mergeAll]]) over the DISTINCT word table, then
    * per-doc word join + sum. `dtok` = (doc_id, n_words, n_bpe_tokens).
    */
  private val bpeCountCtes: String = s"""
       mt AS (SELECT $bpePlaceholder AS M),
       bd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       wrd AS (SELECT DISTINCT unnest(ws) AS word FROM bd),
       enc(word, toks) AS (
         SELECT word, [substr(word, i, 1) for i in range(1, len(word) + 1)]
         FROM wrd
         UNION ALL
         SELECT word,
           string_split(
             list_reduce(toks, (acc, x) -> CASE
               WHEN list_last(string_split(acc, chr(30)))
                      = string_split(bp, ' ')[1]
                    AND x = string_split(bp, ' ')[2]
               THEN left(acc,
                      len(acc) - len(list_last(string_split(acc, chr(30)))))
                    || string_split(bp, ' ')[1] || string_split(bp, ' ')[2]
               ELSE acc || chr(30) || x END),
             chr(30))
         FROM (
           SELECT word, toks,
             M[list_min(list_filter(
               list_transform(range(1, len(toks)),
                 i -> list_position(M, toks[i] || ' ' || toks[i + 1])),
               r -> r IS NOT NULL AND r > 0))] AS bp
           FROM enc, mt) WHERE bp IS NOT NULL),
       encf AS (SELECT word, toks FROM enc, mt
                WHERE len(list_filter(
                        list_transform(range(1, len(toks)),
                          i -> list_position(M, toks[i] || ' ' || toks[i + 1])),
                        r -> r IS NOT NULL AND r > 0)) = 0),
       cnt AS (SELECT word, len(toks) AS n_toks FROM encf),
       dtok AS (SELECT doc_id, count(*) AS n_words,
                       CAST(sum(n_toks) AS BIGINT) AS n_bpe_tokens
                FROM (SELECT doc_id, unnest(ws) AS word FROM bd) e
                JOIN cnt USING (word) GROUP BY doc_id)"""

  /** [[bpeCountCtes]] extended with the full id STREAM: `strm` =
    * (doc_id, word_idx, ti, token_id) — byte tokens carry their code
    * point, merged strings 256 + first-appearance rank (`md` is the
    * order-preserving dedupe of the merge results). Shared by
    * q_bpe_encode and q_pack_token_stream.
    */
  private val bpeStreamCtes: String = s"""$bpeCountCtes,
       md AS (SELECT list_filter(ms0,
                       (s, i) -> list_position(ms0, s) = i) AS ms
              FROM (SELECT list_transform(M,
                      m -> replace(m, ' ', '')) AS ms0
                    FROM mt)),
       wx AS (SELECT doc_id, unnest(ws) AS word,
                     unnest(range(1, len(ws) + 1)) - 1 AS word_idx
              FROM bd),
       encx AS (SELECT word, unnest(toks) AS tok,
                       unnest(range(1, len(toks) + 1)) - 1 AS ti
                FROM encf),
       strm AS (SELECT wx.doc_id, wx.word_idx, encx.ti,
                       CAST(CASE WHEN len(encx.tok) = 1 THEN ascii(encx.tok)
                                 ELSE 255 + list_position(md.ms, encx.tok)
                            END AS BIGINT) AS token_id
                FROM wx JOIN encx USING (word), md)"""

  /** `__GRAFT_BPE_MERGES__` → a DuckDB list literal `['a b', ...]` of
    * the trained merge pairs in rank order (components space-joined —
    * words are whitespace pre-tokens, so the separator is unambiguous),
    * quotes escaped. The oracle replays the greedy merge loop itself
    * (recursive CTE), so only the TABLE is shipped, not any encoding.
    */
  private def resolveBpeMerges(sql: String): String =
    if (!sql.contains(bpePlaceholder)) sql
    else SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case None => sql
      case Some(s) =>
        scala.util.Try(bpeMerges(s, Sources.oracleSfDir)) match {
          case scala.util.Failure(_) => sql
          case scala.util.Success(merges) =>
            val lit = merges
              .map { case (a, b) => s"'${(a + " " + b).replace("'", "''")}'" }
              .mkString("[", ", ", "]")
            sql.replace(bpePlaceholder, lit)
        }
    }

  private[graft] val TempAlpha = 0.5
  private[graft] val tempPlaceholder = "__GRAFT_TEMP_CASE__"

  /** Per-source temperature thresholds for q_mix_temperature, computed
    * ONCE per (session, dir) from the observed source counts with the
    * SAME Scala math the Spark query uses (math.pow differs from SQL
    * pow() in last-ulp cases, and a 1-ulp rate difference can flip a
    * floor'd threshold) — the driver-literal technique again.
    *
    * Keep RATES (not thresholds): the Spark side feeds them straight to
    * [[graft.api.Mixing.stratifiedSample]] — the public operator the
    * query exists to exercise — and the oracle derives its integer
    * literals through the same deterministic `Mixing.threshold`, so the
    * two can't diverge. Null sources are excluded (no stratum).
    */
  private[graft] def tempRates(s: SparkSession,
                               dir: String): Map[String, Double] =
    SessionMemo(s, "pipeline.temp", dir) {
      {
        val counts = t(s, dir, "documents")
          .filter(col("source").isNotNull)
          .groupBy("source").count()
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        graft.api.Mixing.temperatureRates(counts, TempAlpha)
      }
    }

  private def resolveTempThresholds(sql: String): String =
    if (!sql.contains(tempPlaceholder)) sql
    else SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case None => sql
      case Some(s) =>
        // a missing/empty documents table must fail ONLY
        // q_mix_temperature's own compare, not abort the whole oracle
        // dump — same Try discipline as resolveLshPlanes
        scala.util.Try(tempRates(s, Sources.oracleSfDir)) match {
          case scala.util.Failure(_) => sql
          case scala.util.Success(rates) =>
            val cases = rates.toSeq.sorted
              .map { case (k, r) =>
                // data-derived keys: escape quotes for the SQL literal
                s"WHEN '${k.replace("'", "''")}' THEN ${graft.api.Mixing.threshold(r)}"
              }.mkString(" ")
            sql.replace(tempPlaceholder, cases)
        }
    }

  private def resolveKmeans(sql: String): String =
    if (!sql.contains(kmeansPlaceholder)) sql
    else SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case None => sql
      case Some(s) =>
        // CAST('<repr>' AS DOUBLE) forces DuckDB's string->double parse
        // (exact for shortest-round-trip reprs); a bare decimal literal
        // with 16-17 significant digits types as DECIMAL, whose
        // int128-then-divide conversion to double can double-round a
        // centroid component 1 ulp away from Spark's value
        val rows = kmeansCents(s, Sources.oracleSfDir)
          .map { case (cid, cv) =>
            cv.map(d => s"CAST('$d' AS DOUBLE)")
              .mkString(s"(CAST($cid AS BIGINT), [", ", ", "])") }
          .mkString(", ")
        sql.replace(kmeansPlaceholder, rows)
    }

  /** `__GRAFT_LSH_PLANES_<bits>__` → DuckDB VALUES rows (b, r) of the
    * sign-LSH hyperplanes [[Similarity.lshBucket]] derives from
    * xxhash64(bit, dim) parities. The components are exact ±1.0, so the
    * oracle's bucket assignment uses literally the same planes as the
    * Spark plan — the same driver-literal technique as the k-means
    * centroids, which is what lets bucketed-ANN queries carry a full
    * DuckDB oracle despite DuckDB having no compatible xxhash64.
    */
  private[graft] def lshPlaceholder(bits: Int): String =
    s"__GRAFT_LSH_PLANES_${bits}__"

  private val lshPlaneRe = """__GRAFT_LSH_PLANES_(\d+)__""".r
  // planes depend only on (bits, dim) — data-independent, safe globally
  private val planesCache =
    scala.collection.concurrent.TrieMap[(Int, Int), String]()

  private def lshPlanesValues(s: SparkSession, bits: Int, dim: Int): String =
    planesCache.getOrElseUpdate((bits, dim), {
      // evaluated BY SPARK with the same xxhash64(b, j) parity formula as
      // lshBucket, so no reimplementation of the hash can drift
      s.range(bits).select(col("id").as("b"), expr(
          s"""transform(sequence(0, ${dim - 1}),
              j -> IF((xxhash64(b, CAST(j AS BIGINT)) & 1L) = 0L, 1.0D, -1.0D))""")
          .as("r"))
        .collect()
        .sortBy(_.getLong(0))
        .map { row =>
          val comps = row.getSeq[Double](1)
            .map(x => if (x > 0) "1.0" else "-1.0").mkString(", ")
          s"(CAST(${row.getLong(0)} AS BIGINT), CAST([$comps] AS DOUBLE[]))"
        }.mkString(", ")
    })

  // embedding dim per sf dir, looked up once (it is only the planes
  // cache key — re-running a Spark job per placeholder-bearing SQL
  // would pay N jobs for one constant)
  private val dimCache = scala.collection.concurrent.TrieMap[String, Int]()

  private def resolveLshPlanes(sql: String): String =
    if (!sql.contains("__GRAFT_LSH_PLANES_")) sql
    else SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession) match {
      case None => sql
      case Some(s) =>
        // a missing/empty embeddings table must not abort the WHOLE
        // oracle dump (it is written before the per-query try/catch):
        // leave the placeholder unresolved — only the queries that need
        // it will fail their individual compare
        scala.util.Try {
          dimCache.getOrElseUpdate(Sources.oracleSfDir,
            t(s, Sources.oracleSfDir, "embeddings")
              .select(size(col("embedding"))).head().getInt(0))
        }.fold(_ => sql, dim =>
          lshPlaneRe.replaceAllIn(sql,
            m => lshPlanesValues(s, m.group(1).toInt, dim)))
    }

  /** The duplicate-component assignment over [[nearPairs]] — four
    * queries consume it (keep-best, cluster list, cluster-drop,
    * cluster-sizes); without sharing, each re-runs the iterative
    * min-label/star rounds. Deterministic given the pair set, so it
    * parquet-caches across processes like the pair set itself.
    */
  private[graft] def corpusClusters(s: SparkSession, dir: String): DataFrame =
    SessionMemo.persisted(s, "pipeline.clusters", dir)(
      forced(cachedParquet(s, dir, "dupclusters", 1, "documents") {
        Dedup.duplicateClusters(nearPairs(s, dir))
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))

  /** Near-dup pair set, persisted: q_dedup_near orders it, and
    * q_dedup_cluster iterates over it — without the cache the clustering
    * query would re-run the whole inverted-index pipeline first.
    */
  private[graft] def nearPairs(s: SparkSession, dir: String): DataFrame =
    // parquet-backed across processes (the packedStream discipline):
    // exact per-pair jaccard is deterministic, so a cold process with
    // an unchanged corpus attaches the pair set instead of re-running
    // the banded candidate join. ver ties to the recipe (threshold 0.5,
    // default perms/bands) — bump on change.
    SessionMemo.persisted(s, "pipeline.pairs", dir)(
      forced(cachedParquet(s, dir, "nearpairs", 1, "documents") {
        Dedup.nearDuplicatePairs(shingled(s, dir), threshold = 0.5)
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)))

  /** Incremental SemDeDup survivors (5% embedding increment vs the
    * settled 95% corpus) — the oracle of BOTH the batch incremental
    * query and its streaming replay (q_stream_sem_incr): the replay's
    * processed-newcomer fold plus ascending-id arrival files make the
    * micro-batch union equal this one-shot result, so the two queries
    * share one ground truth (the q_dedup_incr/q_stream_dedup_incr
    * pattern, on the cell-indexed path).
    */
  private[ops] val semIncrOracle: String =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
             c AS (SELECT cid, cv FROM (VALUES $kmeansPlaceholder) t(cid, cv)),
             asg AS (SELECT e.vec_id, e.v, c.cid,
                            row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
                     FROM e CROSS JOIN c),
             idx AS (SELECT vec_id, v, cid FROM asg WHERE rn = 1),
             corp AS (SELECT * FROM idx WHERE vec_id % 20 <> 0),
             inc AS (SELECT * FROM idx WHERE vec_id % 20 = 0),
             dom AS (SELECT n.vec_id
                     FROM inc n JOIN corp cx ON n.cid = cx.cid
                     WHERE list_cosine_similarity(n.v, cx.v) >= 0.35
                     UNION
                     SELECT b.vec_id
                     FROM inc a JOIN inc b
                       ON a.cid = b.cid AND a.vec_id < b.vec_id
                     WHERE list_cosine_similarity(a.v, b.v) >= 0.35)
        SELECT i.vec_id, CAST(i.cid AS BIGINT) AS cent_id
        FROM inc i
        WHERE NOT EXISTS (SELECT 1 FROM dom d WHERE d.vec_id = i.vec_id)
        ORDER BY vec_id"""

  /** Shared by q_dedup_paragraph_incr (batch) and q_stream_par_incr
    * (the streamed replay whose union over ascending micro-batches
    * equals the one-shot result) — one oracle, two execution modes.
    */
  private[ops] val parIncrOracle: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                  FROM documents),
            s AS (SELECT doc_id,
                         unnest(range(0, (len(w) + 14) // 15)) AS seg_idx,
                         unnest(list_transform(range(0, (len(w) + 14) // 15),
                           i -> array_to_string(w[i*15+1 : i*15+15], ' ')))
                           AS seg
                  FROM d),
            cs AS (SELECT DISTINCT seg FROM s WHERE doc_id % 10 <> 0),
            ns AS (SELECT * FROM s WHERE doc_id % 10 = 0),
            kp AS (SELECT doc_id, seg_idx, seg,
                          row_number() OVER (PARTITION BY seg
                            ORDER BY doc_id, seg_idx) AS rn
                   FROM ns),
            kept AS (SELECT doc_id, seg_idx, seg FROM kp
                     WHERE rn = 1
                       AND seg NOT IN (SELECT seg FROM cs)),
            agg AS (SELECT doc_id,
                           string_agg(seg, ' ' ORDER BY seg_idx) AS txt,
                           count(*) AS n_kept
                    FROM kept GROUP BY doc_id),
            tot AS (SELECT doc_id, count(*) AS n_segs
                    FROM ns GROUP BY doc_id)
       SELECT t.doc_id, COALESCE(a.txt, '') AS text_clean,
              CAST(t.n_segs AS BIGINT) AS n_segs,
              CAST(t.n_segs - COALESCE(a.n_kept, 0) AS BIGINT)
                AS n_removed
       FROM tot t LEFT JOIN agg a USING (doc_id)
       ORDER BY t.doc_id"""

  /** Exact cross-partition pair set (corpus vs the 10% increment) —
    * the oracle of BOTH the batch incremental query and its streaming
    * replay (q_stream_dedup_incr): batch boundaries cannot change the
    * streamed union, so the two queries share one ground truth.
    */
  private[ops] val incrOracle =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+3], ' ')
                                            for i in range(1, len(w)-2)]) AS toks
              FROM d WHERE len(w) >= 4),
       ex AS (SELECT doc_id, unnest(toks) AS tok FROM sh),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             FROM ex a JOIN ex b USING (tok) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       sz AS (SELECT doc_id, len(toks) AS sz FROM sh),
       prs AS (SELECT doc_a, doc_b,
                      ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
               FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
               WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5)
       SELECT doc_a, doc_b, jaccard FROM prs
       WHERE (doc_a % 10 = 0) <> (doc_b % 10 = 0)
       ORDER BY doc_a, doc_b"""

  private val nearDupOracle =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+3], ' ')
                                            for i in range(1, len(w)-2)]) AS toks
              FROM d WHERE len(w) >= 4),
       ex AS (SELECT doc_id, unnest(toks) AS tok FROM sh),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             FROM ex a JOIN ex b USING (tok) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       sz AS (SELECT doc_id, len(toks) AS sz FROM sh)
       SELECT doc_a, doc_b,
              ROUND(CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter), 4) AS jaccard
       FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
       WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5
       ORDER BY doc_a, doc_b"""

  /** SQL mirror of the shared near-dup pair set — 4-gram shingles,
    * exact Jaccard >= 0.5, ending at `prs(doc_a, doc_b)` (the oracle
    * twin of Dedup.nearDuplicatePairs over shingles(n=4)). ONE copy:
    * every oracle that consumes the pair set splices this constant, so
    * a recipe change (n, threshold) lands everywhere at once instead of
    * silently diverging one hand-edited copy (the knuthHashSql
    * discipline applied to the pair CTEs).
    */
  private[ops] val nearPairCtes =
    """d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+3], ' ')
                                            for i in range(1, len(w)-2)]) AS toks
              FROM d WHERE len(w) >= 4),
       ex AS (SELECT doc_id, unnest(toks) AS tok FROM sh),
       p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             FROM ex a JOIN ex b USING (tok) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
       sz AS (SELECT doc_id, len(toks) AS sz FROM sh),
       prs AS (SELECT doc_a, doc_b
               FROM p JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
               WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5)"""

  /** [[nearPairCtes]] + transitive closure — shared by the
    * q_dedup_cluster and q_dedup_keep_best oracles.
    */
  private val clusterCtes =
    s"""$nearPairCtes,
       und AS (SELECT doc_a AS u, doc_b AS v FROM prs
               UNION SELECT doc_b, doc_a FROM prs),
       reach(u, v) AS (SELECT u, v FROM und
                       UNION SELECT r.u, e.v FROM reach r JOIN und e ON r.v = e.u)"""

  private val clusterOracle =
    s"""WITH RECURSIVE
       $clusterCtes
       SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster
       FROM reach GROUP BY u ORDER BY doc_id"""

  /** q_dedup_keep_best oracle: same closure, then keep the max-n_chars
    * member per component (ties → min id); docs outside any component
    * survive.
    */
  private val keepBestOracle =
    s"""WITH RECURSIVE
       $clusterCtes,
       cl AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster
              FROM reach GROUP BY u),
       scq AS (SELECT cl.doc_id, cluster, n_chars
               FROM cl JOIN documents USING (doc_id)),
       win AS (SELECT cluster, doc_id AS keep_id FROM (
                 SELECT cluster, doc_id, row_number() OVER (
                   PARTITION BY cluster ORDER BY n_chars DESC, doc_id) AS rn
                 FROM scq) WHERE rn = 1),
       losers AS (SELECT scq.doc_id FROM scq JOIN win USING (cluster)
                  WHERE scq.doc_id <> win.keep_id)
       SELECT doc_id FROM documents
       WHERE doc_id NOT IN (SELECT doc_id FROM losers)
       ORDER BY doc_id"""

  /** q_text_bm25 parameters, computed driver-side ONCE so the oracle
    * embeds the exact same doubles the Spark plan multiplies by
    * (Double.toString round-trips, so the interpolated literal parses
    * back to the identical bit pattern in DuckDB).
    */
  private val Bm25Terms = Seq("dup", "vector", "merge", "scan")
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  private[graft] val CmsTerms = Seq("merge", "scan", "table", "zzz_absent")
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 256

  /** q_sketch_cms / q_stream_cms oracle: replay the sha256-derived
    * bucket hash (top 8 hex chars = exact 32 bits, mod width) with the
    * same nibble fold the auditable-simhash oracle uses, then
    * min-over-rows. The absent probe term exercises the empty-bucket →
    * 0 left-join path. `where` restricts the corpus slice (the
    * streaming twin sketches only the 10% increment).
    */
  /** DuckDB replay of [[graft.api.Sketches.cmsBucket]] — top-8-hex
    * nibble fold of sha256("<seed>|<term>") mod width. The ONE copy of
    * the hash contract every sketch-family oracle (count-min, bloom,
    * hashed-TF, linear counting) shares with the Spark expression.
    */
  private def shaBucketSql(seedCol: String, termCol: String, width: Int) =
    s"""list_sum([(strpos('0123456789abcdef',
                         substr(sha256(CAST($seedCol AS VARCHAR) || '|' || $termCol),
                                CAST(i AS INT), 1)) - 1)::BIGINT
                  << (4*(8-i)) for i in range(1, 9)]) % $width"""

  private[graft] def cmsOracleFor(where: String) = {
    val terms = CmsTerms.map(t => s"'$t'").mkString(", ")
    def bucket(seedCol: String, termCol: String) =
      shaBucketSql(seedCol, termCol, CmsWidth)
    s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents $where),
        tf AS (SELECT term, count(*) AS tf FROM tok GROUP BY 1),
        seeds AS (SELECT unnest(range($CmsDepth)) AS seed),
        sk AS (SELECT seed, ${bucket("seed", "term")} AS bucket,
                      CAST(sum(tf) AS BIGINT) AS n
               FROM tf CROSS JOIN seeds GROUP BY 1, 2),
        probes AS (SELECT unnest([$terms]) AS term),
        pb AS (SELECT term, seed, ${bucket("seed", "term")} AS bucket
               FROM probes CROSS JOIN seeds)
        SELECT term, CAST(min(COALESCE(n, 0)) AS BIGINT) AS est
        FROM pb LEFT JOIN sk USING (seed, bucket)
        GROUP BY 1 ORDER BY 1"""
  }

  private val cmsOracle = cmsOracleFor("")

  private val BloomBits = 4096
  private val BloomHashes = 3

  /** q_sketch_bloom oracle: same sha256 bucket family as the count-min
    * oracle (different width); the bit set is the DISTINCT positions of
    * all corpus terms, membership = all `hashes` probe positions set.
    */
  private val bloomOracle = {
    val terms = CmsTerms.map(t => s"'$t'").mkString(", ")
    def bucket(seedCol: String, termCol: String) =
      shaBucketSql(seedCol, termCol, BloomBits)
    s"""WITH tok AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
                     FROM documents),
        seeds AS (SELECT unnest(range($BloomHashes)) AS seed),
        bs AS (SELECT DISTINCT ${bucket("seed", "term")} AS pos, 1 AS hit
               FROM tok CROSS JOIN seeds),
        probes AS (SELECT unnest([$terms]) AS term),
        pb AS (SELECT term, ${bucket("seed", "term")} AS pos
               FROM probes CROSS JOIN seeds)
        SELECT term, (count(hit) = $BloomHashes) AS maybe
        FROM pb LEFT JOIN bs USING (pos)
        GROUP BY 1 ORDER BY 1"""
  }

  // 20 < the corpus's 31 distinct words, so the `<unk>` OOV path carries
  // real mass at every SF
  private val PplVocab = 20
  private val PplK = 0.1

  /** q_text_perplexity oracle: replay the bigram-LM scoring. Bigrams come
    * from two positionally-aligned unnests; the vocabulary cut, the add-k
    * smoothing scalars (embedded as the SAME driver-computed doubles the
    * Spark plan uses, string-cast so DuckDB parses them as DOUBLE, not
    * DECIMAL), the 6dp per-bigram rounding, and the decimal sum all
    * mirror [[TextAnalysis.perplexityScore]].
    */
  private val pplOracle = {
    val kv = PplK * (PplVocab + 1)
    s"""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        vocab AS (SELECT term FROM (SELECT unnest(w) AS term FROM tok)
                  GROUP BY term ORDER BY count(*) DESC, term LIMIT $PplVocab),
        bg AS (SELECT doc_id,
                      unnest([w[i] for i in range(1, len(w))]) AS w1,
                      unnest([w[i+1] for i in range(1, len(w))]) AS w2
               FROM tok WHERE len(w) >= 2),
        mp AS (SELECT doc_id,
                      CASE WHEN w1 IN (SELECT term FROM vocab) THEN w1 ELSE '<unk>' END AS m1,
                      CASE WHEN w2 IN (SELECT term FROM vocab) THEN w2 ELSE '<unk>' END AS m2
               FROM bg),
        pbc AS (SELECT doc_id, m1, m2, count(*) AS cnt FROM mp GROUP BY 1, 2, 3),
        md AS (SELECT m1, m2, CAST(sum(cnt) AS BIGINT) AS c12 FROM pbc GROUP BY 1, 2),
        cx AS (SELECT m1, CAST(sum(c12) AS BIGINT) AS c1 FROM md GROUP BY 1),
        sc AS (SELECT doc_id, cnt,
                      ROUND(-ln((c12 + CAST('$PplK' AS DOUBLE))
                                  / (c1 + CAST('$kv' AS DOUBLE))), 6) AS nll
               FROM pbc JOIN md USING (m1, m2) JOIN cx USING (m1))
        SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
               ROUND(CAST(SUM(CAST(cnt * nll AS DECIMAL(38,6))) AS DOUBLE)
                       / sum(cnt), 4) AS avg_nll
        FROM sc GROUP BY 1 ORDER BY 1"""
  }

  /** q_sim_rp oracle: the ±1 projection matrix is the SAME
    * `__GRAFT_LSH_PLANES_16__` literal rows the sign-LSH oracles inject
    * (evaluated by Spark, so it can't drift); projected components are
    * sequential-sum dot products of exact ±1 rows, identical doubles on
    * both engines.
    */
  private val rpOracle =
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                   FROM embeddings),
        pl AS (SELECT * FROM (VALUES ${lshPlaceholder(16)}) t(b, r)),
        pr AS (SELECT vec_id, list(list_dot_product(v, r) ORDER BY b) AS rv
               FROM e CROSS JOIN pl GROUP BY vec_id),
        q AS (SELECT rv AS qrv FROM pr WHERE vec_id = 1)
        SELECT vec_id, ROUND(list_cosine_similarity(rv, qrv), 4) AS rpcos
        FROM pr, q WHERE vec_id <> 1
        ORDER BY list_cosine_similarity(rv, qrv) DESC, vec_id LIMIT 10"""

  private val bm25Oracle = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    val k1p1 = Bm25K1 + 1.0
    val oneMinusB = 1.0 - Bm25B
    s"""WITH dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
                    FROM documents),
        st AS (SELECT count(*) AS n_docs,
                      CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        tfq AS (SELECT doc_id, term, count(*) AS tf FROM tok
                WHERE term IN ($terms) GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tfq GROUP BY 1),
        pt AS (SELECT doc_id,
                      ROUND(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                              * (tf * $k1p1)
                              / (tf + $Bm25K1 * ($oneMinusB + $Bm25B * dl / avgdl)),
                            6) AS sc
               FROM tfq JOIN df USING (term) JOIN dl USING (doc_id), st),
        agg AS (SELECT doc_id,
                       CAST(ROUND(SUM(CAST(sc AS DECIMAL(38,6))), 6) AS DOUBLE) AS score,
                       count(*) AS n_hit
                FROM pt GROUP BY 1),
        top AS (SELECT * FROM agg ORDER BY score DESC, doc_id LIMIT 20)
        SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS rnk,
               doc_id, score, n_hit
        FROM top ORDER BY rnk"""
  }

  /** q_sim_quant oracle: replay the symmetric int8 quantization and the
    * quantized cosine in DuckDB list ops. Quantized components are kept
    * as DOUBLE lists on the oracle side (list_dot_product wants floats);
    * the values are small exact integers either way, so dot products and
    * norms are exact in double on any summation order.
    */
  private val quantOracle =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                  FROM embeddings),
        m AS (SELECT vec_id, v,
                     list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
                                 (a, x) -> greatest(a, x)) / 127.0 AS scale
              FROM e),
        qz AS (SELECT vec_id,
                      list_transform(v, x -> floor(
                        CASE WHEN scale = 0.0 THEN 0.0 ELSE x / scale END + 0.5)) AS q
               FROM m),
        qq AS (SELECT q AS qv FROM qz WHERE vec_id = 1),
        sc AS (SELECT z.vec_id,
                      list_dot_product(z.q, qq.qv)
                        / (sqrt(list_dot_product(z.q, z.q))
                             * sqrt(list_dot_product(qq.qv, qq.qv))) AS qc
               FROM qz z, qq WHERE z.vec_id <> 1)
        SELECT vec_id, ROUND(qc, 4) AS qcos FROM sc
        ORDER BY qc DESC, vec_id LIMIT 10"""

  val qs: Seq[Q] = Seq(

    // ---------------- deduplication ----------------

    Q("q_dedup_exact",
      Some("""SELECT sha256(text) AS h, count(*) AS n FROM documents
              GROUP BY 1 ORDER BY h"""),
      (s, dir) => Dedup.exactDuplicates(t(s, dir, "documents"), "text")
        .orderBy("h")),

    Q("q_dedup_near", Some(nearDupOracle),
      (s, dir) => nearPairs(s, dir).orderBy("doc_a", "doc_b")),

    // LSH candidates + exact verify: false-negative probability with 32
    // bands x 4 rows at j>=0.8 is (1-0.8^4)^32 ~ 5e-8, so the exact
    // oracle remains valid (recall pinned by PipelineSpec).
    Q("q_dedup_minhash", Some(nearDupOracle),
      (s, dir) => Dedup.minhashPairs(shingled(s, dir), threshold = 0.5)
        .orderBy("doc_a", "doc_b")),

    // Incremental dedup: the 10% "increment" (doc_id % 10 = 0) against
    // the other 90% as the indexed corpus — cost scales with the
    // increment, not the corpus (the corpus band index is built once
    // per session via corpusBands and shared with the streaming
    // replay). Oracle = the exact pair set restricted to
    // cross-partition pairs (LSH false-negative odds ~5e-8).
    Q("q_dedup_incr", Some(incrOracle),
      (s, dir) => {
        val (index, corpusSh) = corpusBandsSh(s, dir)
        Dedup.incrementalMinhashPairsIndexed(
            corpusSh = corpusSh,
            index = index,
            newSh = incrShingled(s, dir),
            threshold = 0.5)
          .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("jaccard"))
          .orderBy("doc_a", "doc_b")
      }),

    // Pairs → components: iterative min-label propagation vs the
    // oracle's recursive-CTE transitive closure (same fixpoint).
    // Quality-aware dedup: keep the LONGEST member of each near-dup
    // component (ties by id) — the production keep policy when
    // duplicate copies differ in quality.
    Q("q_dedup_keep_best", Some(keepBestOracle),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Dedup.keepBestPerCluster(docs, "doc_id",
            corpusClusters(s, dir), "n_chars")
          .select("doc_id").orderBy("doc_id")
      }),

    Q("q_dedup_cluster", Some(clusterOracle),
      (s, dir) => corpusClusters(s, dir)
        .orderBy("doc_id")),

    // Near-dup REMOVAL, transitive: exactly one representative (the
    // min id) of every pair component survives — the
    // dropNearDuplicatesByCluster policy over the shared pair cache,
    // closing the find->remove loop for the near-dup family the same
    // way the span/prefix pairs do.
    Q("q_dedup_near_drop",
      Some(s"""WITH RECURSIVE
               $clusterCtes,
               cl AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster
                      FROM reach GROUP BY u),
               losers AS (SELECT doc_id FROM cl WHERE doc_id <> cluster)
               SELECT d.doc_id FROM documents d
               WHERE d.doc_id NOT IN (SELECT doc_id FROM losers)
               ORDER BY d.doc_id"""),
      (s, dir) => {
        val losers = corpusClusters(s, dir)
          .filter(col("doc_id") =!= col("cluster"))
          .select(col("doc_id"))
        t(s, dir, "documents").join(losers, Seq("doc_id"), "left_anti")
          .select(col("doc_id")).orderBy("doc_id")
      }),

    // Duplicate-cluster SIZE histogram: how the duplicated mass
    // distributes (many pairs vs a few mirror farms) — the diagnostic
    // that decides keep-one vs drop-cluster policies. Two tiny
    // aggregations over the cluster labels.
    Q("q_dedup_cluster_sizes",
      Some(s"""WITH RECURSIVE
               $clusterCtes,
               cl AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster
                      FROM reach GROUP BY u),
               cs AS (SELECT cluster, count(*) AS cluster_size
                      FROM cl GROUP BY cluster)
               SELECT cluster_size, count(*) AS n_clusters
               FROM cs GROUP BY cluster_size ORDER BY cluster_size"""),
      (s, dir) => corpusClusters(s, dir)
        .groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
        .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")),

    // SimHash in auditable mode: the per-token hash is the top 60 bits
    // of sha256 (content-stable, computable by ANY engine) instead of
    // the default internal xxhash64, so the full signature → band →
    // Hamming pipeline carries a DuckDB oracle. Bits 60-63 of every
    // token hash are zero → those signature bits are zero on both sides
    // (an effectively-60-bit SimHash; the banding is unchanged).
    Q("q_dedup_simhash",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                   sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+3], ' ')
                                                        for i in range(1, len(w)-2)]) AS toks
                          FROM d WHERE len(w) >= 4),
                   hs AS (SELECT doc_id, list_transform(toks, t ->
                            list_sum([(strpos('0123456789abcdef',
                                              substr(sha256(t), CAST(i AS INT), 1)) - 1)::BIGINT
                                      << (4*(15-i)) for i in range(1, 16)])) AS hl
                          FROM sh),
                   sg AS (SELECT doc_id,
                            CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> b) & 1 = 1
                                                               THEN 1 ELSE -1 END
                                                               for h in hl]) > 0
                                           THEN (CAST(1 AS BIGINT) << b)
                                           ELSE CAST(0 AS BIGINT) END
                                           for b in range(0, 60)]) AS BIGINT) AS sig
                          FROM hs),
                   bands AS (SELECT doc_id, sig, b AS band_idx,
                                    (sig >> (b*16)) & 65535 AS band_val
                             FROM sg CROSS JOIN (VALUES (0), (1), (2), (3)) t(b)),
                   cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                                   CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
                            FROM bands a JOIN bands b USING (band_idx, band_val)
                            WHERE a.doc_id < b.doc_id)
              SELECT doc_a, doc_b, hamming FROM cand
              WHERE hamming <= 3 ORDER BY doc_a, doc_b"""),
      (s, dir) => Dedup.simhashPairs(shingled(s, dir), maxHamming = 3,
          tokenHash = Some(tok =>
            conv(substring(sha2(tok, 256), 1, 15), 16, 10).cast("long")))
        .orderBy("doc_a", "doc_b")),

    // Benchmark decontamination: corpus docs sharing any 4-gram with the
    // "eval set" (doc_id % 10 = 1 — disjoint from q_dedup_incr's
    // increment). The eval posting list is BROADCAST: candidate
    // generation is a map-side join the corpus streams through once.
    Q("q_decontaminate",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                   sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+3], ' ')
                                                        for i in range(1, len(w)-2)]) AS toks
                          FROM d WHERE len(w) >= 4),
                   c AS (SELECT * FROM sh WHERE doc_id % 10 <> 1),
                   ev AS (SELECT * FROM sh WHERE doc_id % 10 = 1),
                   exc AS (SELECT doc_id, unnest(toks) AS tok FROM c),
                   exe AS (SELECT doc_id AS eval_id, unnest(toks) AS tok FROM ev),
                   hits AS (SELECT doc_id,
                                   CAST(count(DISTINCT tok) AS BIGINT) AS n_gram_hits,
                                   CAST(count(DISTINCT eval_id) AS BIGINT) AS n_eval_docs
                            FROM exc JOIN exe USING (tok) GROUP BY doc_id)
              SELECT h.doc_id, n_gram_hits, n_eval_docs,
                     CAST(len(c.toks) AS BIGINT) AS n_grams,
                     ROUND(CAST(n_gram_hits AS DOUBLE) / len(c.toks), 6) AS hit_frac
              FROM hits h JOIN c ON c.doc_id = h.doc_id
              ORDER BY h.doc_id"""),
      (s, dir) => {
        val sh = shingled(s, dir)
        Decontamination.contaminationReport(
            corpusSh = sh.filter(col("doc_id") % 10 =!= 1),
            evalSh = sh.filter(col("doc_id") % 10 === 1))
          .orderBy("doc_id")
      }),

    // FUZZY decontamination: corpus docs whose shingle-set Jaccard
    // against any eval doc (doc_id % 10 = 1) reaches 0.5 — the
    // paraphrased-benchmark leak the exact n-gram report misses.
    // Inverted-index candidates + true-Jaccard verification (recall is
    // total for threshold > 0), replayed exactly by the oracle.
    Q("q_decontam_fuzzy",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                         FROM documents),
                   sh AS (SELECT doc_id,
                                 list_distinct([array_to_string(w[i:i+3], ' ')
                                                for i in range(1, len(w)-2)])
                                   AS toks
                          FROM d WHERE len(w) >= 4),
                   c AS (SELECT * FROM sh WHERE doc_id % 10 <> 1),
                   e AS (SELECT * FROM sh WHERE doc_id % 10 = 1),
                   exc AS (SELECT doc_id AS c_id, unnest(toks) AS tok FROM c),
                   exe AS (SELECT doc_id AS e_id, unnest(toks) AS tok FROM e),
                   p AS (SELECT c_id, e_id, count(*) AS inter
                         FROM exc JOIN exe USING (tok) GROUP BY 1, 2),
                   j AS (SELECT c_id,
                                CAST(inter AS DOUBLE)
                                  / (sa.sz + sb.sz - inter) AS jac
                         FROM p
                         JOIN (SELECT doc_id, len(toks) AS sz FROM c) sa
                           ON sa.doc_id = c_id
                         JOIN (SELECT doc_id, len(toks) AS sz FROM e) sb
                           ON sb.doc_id = e_id
                         WHERE CAST(inter AS DOUBLE)
                               / (sa.sz + sb.sz - inter) >= 0.5)
              SELECT c_id AS doc_id, count(*) AS n_eval_matches,
                     ROUND(max(jac), 4) AS max_jaccard
              FROM j GROUP BY c_id ORDER BY doc_id"""),
      (s, dir) => {
        val sh = shingled(s, dir)
        Decontamination.fuzzyContamination(
            corpusSh = sh.filter(col("doc_id") % 10 =!= 1),
            evalSh = sh.filter(col("doc_id") % 10 === 1),
            threshold = 0.5)
          .orderBy("doc_id")
      }),

    // Greedy in-order sequence packing into 200-token bins per language
    // stratum — next-fit, deterministic, sequential within a stratum and
    // parallel across strata (flatMapSortedGroups secondary sort). The
    // oracle replays the same fold as a recursive CTE.
    Q("q_pack_greedy",
      // `r` is MATERIALIZED: DuckDB inlines single-reference CTEs, so
      // the recursive join would otherwise re-evaluate the whole
      // upstream chain once per iteration (~15x slower at sf0.1)
      Some("""WITH RECURSIVE
                   r AS MATERIALIZED (SELECT lang AS stratum, doc_id,
                                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                                row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
                         FROM documents),
                   pack(stratum, rn, doc_id, n_tokens, bin, fill) AS (
                     SELECT stratum, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
                     FROM r WHERE rn = 1
                     UNION ALL
                     SELECT r.stratum, r.rn, r.doc_id, r.n_tokens,
                            CASE WHEN p.fill + r.n_tokens <= 200 THEN p.bin ELSE p.bin + 1 END,
                            CASE WHEN p.fill + r.n_tokens <= 200 THEN p.fill + r.n_tokens ELSE r.n_tokens END
                     FROM pack p JOIN r ON r.stratum = p.stratum AND r.rn = p.rn + 1)
              SELECT stratum, doc_id, n_tokens, CAST(bin AS BIGINT) AS bin
              FROM pack ORDER BY stratum, doc_id"""),
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        Packing.packGreedy(d, "doc_id", "lang", "n_tokens", budget = 200L)
          .orderBy("stratum", "doc_id")
      }),

    // Bin-level packing audit (Packing.binStats): docs per bin, fill,
    // and padding waste against the budget — the metric packing exists
    // to minimize, composed on the same recursive next-fit oracle.
    Q("q_pack_bins",
      Some("""WITH RECURSIVE
                   r AS MATERIALIZED (SELECT lang AS stratum, doc_id,
                                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                                row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
                         FROM documents),
                   pack(stratum, rn, doc_id, n_tokens, bin, fill) AS (
                     SELECT stratum, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
                     FROM r WHERE rn = 1
                     UNION ALL
                     SELECT r.stratum, r.rn, r.doc_id, r.n_tokens,
                            CASE WHEN p.fill + r.n_tokens <= 200 THEN p.bin ELSE p.bin + 1 END,
                            CASE WHEN p.fill + r.n_tokens <= 200 THEN p.fill + r.n_tokens ELSE r.n_tokens END
                     FROM pack p JOIN r ON r.stratum = p.stratum AND r.rn = p.rn + 1)
              SELECT stratum, CAST(bin AS BIGINT) AS bin,
                     count(*) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS fill,
                     CAST(greatest(200 - sum(n_tokens), 0) AS BIGINT) AS waste
              FROM pack GROUP BY stratum, bin ORDER BY stratum, bin"""),
      (s, dir) => {
        val d = t(s, dir, "documents").select(col("lang"), col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"))
        Packing.binStats(
            Packing.packGreedy(d, "doc_id", "lang", "n_tokens", budget = 200L),
            budget = 200L)
          .orderBy("stratum", "bin")
      }),

    // Chunk -> pack composition: long docs split into 16-token windows
    // (no overlap: packed chunks must not double-count tokens), then
    // greedily packed into 64-token bins per language — the two newest
    // operators chained under ONE oracle, the shape that turns a raw
    // corpus into dense fixed-budget training sequences.
    Q("q_pipeline_chunks",
      Some("""WITH RECURSIVE
                   tok AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
                   ch AS (SELECT doc_id, lang, c AS chunk_idx,
                                 CAST(len(w[c*16+1 : c*16+16]) AS BIGINT) AS n_tokens
                          FROM tok, unnest(range(0, (len(w)-1)//16 + 1)) AS t(c)),
                   r AS MATERIALIZED (SELECT lang AS stratum,
                                doc_id * 1048576 + chunk_idx AS cid, n_tokens,
                                row_number() OVER (PARTITION BY lang
                                  ORDER BY doc_id, chunk_idx) AS rn
                         FROM ch),
                   pack(stratum, rn, cid, n_tokens, bin, fill) AS (
                     SELECT stratum, rn, cid, n_tokens, CAST(0 AS BIGINT), n_tokens
                     FROM r WHERE rn = 1
                     UNION ALL
                     SELECT r.stratum, r.rn, r.cid, r.n_tokens,
                            CASE WHEN p.fill + r.n_tokens <= 64 THEN p.bin ELSE p.bin + 1 END,
                            CASE WHEN p.fill + r.n_tokens <= 64 THEN p.fill + r.n_tokens ELSE r.n_tokens END
                     FROM pack p JOIN r ON r.stratum = p.stratum AND r.rn = p.rn + 1)
              SELECT stratum, cid, n_tokens, CAST(bin AS BIGINT) AS bin
              FROM pack ORDER BY stratum, cid"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // cid = doc_id·2^20 + chunk_idx: collision-free and order-
        // preserving up to 2^20 chunks (16M tokens) per doc
        val ch = TextAnalysis.chunkTokens(docs, "doc_id", "text",
            size = 16, overlap = 0)
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select(col("lang"),
            (col("doc_id") * 1048576 + col("chunk_idx")).as("cid"),
            col("n_tokens"))
        Packing.packGreedy(ch, "cid", "lang", "n_tokens", budget = 64L)
          .withColumnRenamed("doc_id", "cid") // packGreedy's typed output id
          .orderBy("stratum", "cid")
      }),

    // Deterministic 5% sample keeps the all-pairs verify O((n/20)²) at
    // any SF while still containing planted near-dup pairs at the gate
    // SF (a 1% sample hash-matched vacuously on 0 rows); the
    // full-corpus path is LSH/IVF blocking.
    Q("q_dedup_embed",
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings WHERE vec_id % 20 = 0)
              SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                     ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos
              FROM e a JOIN e b ON a.vec_id < b.vec_id
              WHERE list_cosine_similarity(a.v, b.v) >= 0.2
              ORDER BY id_a, id_b"""),
      (s, dir) => Dedup.embeddingPairs(
          t(s, dir, "embeddings").filter(col("vec_id") % 20 === 0),
          "vec_id", "embedding", threshold = 0.2)
        .orderBy("id_a", "id_b")),

    // LSH-blocked embedding dedup on the SAME 5% sample as
    // q_dedup_embed: candidate generation is within-bucket only (subset
    // of the all-pairs result also pinned in PipelineSpec). Fully
    // oracle-checked: the sign-LSH hyperplanes are deterministic ±1
    // vectors injected into the SQL as literals (resolved at oracle-dump
    // time), so DuckDB buckets with literally the same planes.
    Q("q_dedup_embed_lsh",
      Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                          FROM embeddings WHERE vec_id % 20 = 0),
                    pl AS (SELECT * FROM (VALUES ${lshPlaceholder(4)}) t(b, r)),
                    bk AS (SELECT vec_id,
                                  CAST(SUM(CASE WHEN list_dot_product(v, r) >= 0
                                           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS bucket
                           FROM e CROSS JOIN pl GROUP BY vec_id),
                    eb AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk USING (vec_id))
               SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                      ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos
               FROM eb a JOIN eb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
               WHERE list_cosine_similarity(a.v, b.v) >= 0.2
               ORDER BY id_a, id_b"""),
      (s, dir) => Dedup.embeddingPairsLsh(
          t(s, dir, "embeddings").filter(col("vec_id") % 20 === 0),
          "vec_id", "embedding", threshold = 0.2, bits = 4)
        .orderBy("id_a", "id_b")),

    // SemDeDup (Abbas et al. '23): k-means cells + within-cell min-id
    // cosine dominance — the clustered scale path for embedding dedup
    // (candidates O(Σ cell²), never corpus²). Fully oracle-checked via
    // the driver-literal centroid technique of q_sim_ann_kmeans: both
    // engines assign with the same argmax over the same double
    // literals, prune with the same cosine threshold, and keep the same
    // survivor set.
    Q("q_dedup_semantic",
      Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                          FROM embeddings),
                    c AS (SELECT cid, cv FROM (VALUES $kmeansPlaceholder) t(cid, cv)),
                    asg AS (SELECT e.vec_id, e.v, c.cid,
                                   row_number() OVER (PARTITION BY e.vec_id
                                     ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
                            FROM e CROSS JOIN c),
                    idx AS (SELECT vec_id, v, cid FROM asg WHERE rn = 1),
                    dom AS (SELECT DISTINCT b.vec_id
                            FROM idx a JOIN idx b
                              ON a.cid = b.cid AND a.vec_id < b.vec_id
                            WHERE list_cosine_similarity(a.v, b.v) >= 0.2)
               SELECT i.vec_id, CAST(i.cid AS BIGINT) AS cent_id
               FROM idx i
               WHERE NOT EXISTS (SELECT 1 FROM dom d WHERE d.vec_id = i.vec_id)
               ORDER BY vec_id"""),
      (s, dir) => {
        import s.implicits._
        val cents = kmeansCents(s, dir).toDF("vec_id", "embedding")
        Dedup.semanticDedup(t(s, dir, "embeddings"), cents,
            "vec_id", "embedding", threshold = 0.2)
          .orderBy("vec_id")
      }),

    // Incremental SemDeDup: the 5% increment (vec_id % 20 = 0) admits
    // only newcomers with no within-threshold cell-mate in the settled
    // 95% corpus and no lower-id within-threshold fellow newcomer —
    // per-run cost ∝ increment against the (bucketable) corpus cell
    // index, the embedding twin of q_dedup_incr's band-index story.
    // The SAME oracle also checks the STREAMING replay below: the
    // micro-batch union equals this one-shot result by construction
    // (ascending-id arrival files + the processed-newcomer fold).
    Q("q_dedup_semantic_incr",
      Some(semIncrOracle),
      (s, dir) => {
        import s.implicits._
        val cents = kmeansCents(s, dir).toDF("vec_id", "embedding")
        val emb = t(s, dir, "embeddings")
        Dedup.semanticDedupIncrement(
            Similarity.ivfIndex(emb.filter(col("vec_id") % 20 =!= 0),
              cents, "vec_id", "embedding"),
            cents, emb.filter(col("vec_id") % 20 === 0),
            "vec_id", "embedding", threshold = 0.35)
          .orderBy("vec_id")
      }),

    // ---------------- similarity search ----------------

    Q("q_sim_cosine",
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings)
              SELECT b.vec_id AS vec_id, ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos
              FROM e a JOIN e b ON a.vec_id = 1 AND b.vec_id <> 1
              ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.vec_id LIMIT 10"""),
      (s, dir) => Similarity.topK(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryId = 1, k = 10)),

    // Per-label embedding centroids (corpus audit / mixing diagnostic):
    // one hash agg collapsing dim-fanned rows to |labels| x dim output;
    // components 6dp-rounded then summed in exact decimal so fp row
    // order never matters (the PMI per-term-round technique)
    Q("q_embed_centroids",
      Some("""WITH f AS (SELECT label,
                                CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
                                unnest(embedding) AS x
                         FROM embeddings)
              , agg AS (SELECT label, pos, count(*) AS n,
                               CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE), 6)
                                 AS DECIMAL(38,6))) * 1000000 AS BIGINT) AS S
                        FROM f GROUP BY 1, 2)
              SELECT label, pos, n,
                     CAST(CASE WHEN S < 0 THEN -((2 * (-S) + n) // (2 * n))
                               ELSE (2 * S + n) // (2 * n) END AS DOUBLE)
                     / 1e6 AS c
              FROM agg ORDER BY 1, 2"""),
      (s, dir) => Similarity.groupCentroids(t(s, dir, "embeddings"),
        "label", "embedding")
        .orderBy("label", "pos")),

    // Pairwise centroid cosine (which classes overlap / diversify):
    // both join sides are centroid-sized — broadcast territory at any
    // corpus scale; the corpus reduced in the single centroid agg
    Q("q_embed_group_dist",
      Some("""WITH f AS (SELECT label,
                                CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
                                unnest(embedding) AS x
                         FROM embeddings),
                   agg AS (SELECT label, pos, count(*) AS n,
                                  CAST(SUM(CAST(ROUND(CAST(x AS DOUBLE), 6)
                                    AS DECIMAL(38,6))) * 1000000 AS BIGINT) AS S
                           FROM f GROUP BY 1, 2),
                   cent AS (SELECT label, pos,
                                   CAST(CASE WHEN S < 0 THEN -((2 * (-S) + n) // (2 * n))
                                             ELSE (2 * S + n) // (2 * n) END AS DOUBLE)
                                   / 1e6 AS c
                            FROM agg),
                   v AS (SELECT label, list(c ORDER BY pos) AS v FROM cent GROUP BY 1)
              SELECT a.label AS g_a, b.label AS g_b,
                     ROUND(list_cosine_similarity(a.v, b.v), 4) AS cos
              FROM v a JOIN v b ON a.label < b.label
              ORDER BY g_a, g_b"""),
      (s, dir) => Similarity.groupCentroidDistances(t(s, dir, "embeddings"),
        "label", "embedding")
        .orderBy("g_a", "g_b")),

    // Quantized (int8) cosine top-k: the 4-8x index-footprint scale
    // path; scores are exact small-integer sums, so the ranking is
    // deterministic with no decimal machinery.
    Q("q_sim_quant", Some(quantOracle),
      (s, dir) => Similarity.quantizedTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryId = 1, k = 10)),

    // Random-projection (JL) top-k: every distance costs dOut=16
    // multiplies instead of dim — the map-side dimensionality lever.
    // Projected components are exact sequential sums of ±v_i, so the
    // full ranking carries a DuckDB oracle via the injected sign matrix.
    Q("q_sim_rp", Some(rpOracle),
      (s, dir) => Similarity.rpTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryId = 1, k = 10, dOut = 16)),

    Q("q_sim_knn_batch",
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings),
                   q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
                   sc AS (SELECT qid, vec_id, list_cosine_similarity(qv, v) AS cos_raw,
                                 row_number() OVER (PARTITION BY qid
                                   ORDER BY list_cosine_similarity(qv, v) DESC, vec_id) AS rnk
                          FROM q JOIN e ON vec_id <> qid)
              SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, ROUND(cos_raw, 4) AS cos
              FROM sc WHERE rnk <= 3 ORDER BY qid, rnk"""),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.knnJoin(e, e.filter(col("vec_id") < 10),
            "vec_id", "embedding", k = 3)
          .orderBy("qid", "rnk")
      }),

    // Approximate relative to exact search, but DETERMINISTIC given the
    // deterministic centroid pick (first 16 vectors), so it carries the
    // same full DuckDB oracle as the bucketed variant: same cosine
    // assignment argmax (ties to lowest cell id), same probe choice,
    // same in-cell exact ranking. Subset/determinism also pinned in
    // PipelineSpec.
    Q("q_sim_ann_ivf",
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings),
                   c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
                   asg AS (SELECT e.vec_id, e.v, c.cid,
                                  row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
                           FROM e CROSS JOIN c),
                   idx AS (SELECT vec_id, v, cid FROM asg WHERE rn = 1),
                   q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
                   probes AS (SELECT cid FROM c, q
                              ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 4),
                   cand AS (SELECT i.vec_id, i.cid, list_cosine_similarity(i.v, qv) AS cos_raw
                            FROM idx i JOIN probes USING (cid), q WHERE i.vec_id <> 1)
              SELECT vec_id, cid AS cent_id, ROUND(cos_raw, 4) AS cos
              FROM cand ORDER BY cos_raw DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfTopK(e, e.filter(col("vec_id") < 16),
          "vec_id", "embedding", queryId = 1, k = 10, nProbe = 4)
      }),

    // IVF-SQ8: cell pruning composed with int8 quantization — the
    // production ANN shape at corpus scale (probe reads nProbe/nCells
    // of an index whose bytes are 1/8 of double). Assignment ranks the
    // FULL-precision vector (quantization never moves cell membership);
    // in-cell ranking is exact small-integer cosine; probe choice uses
    // the quantized query against the full-precision centroids (scales
    // cancel in cosine). Deterministic end to end → full DuckDB oracle.
    Q("q_sim_ivf_quant",
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings),
                   m AS (SELECT vec_id, v,
                                list_reduce(list_prepend(0.0, list_transform(v, x -> abs(x))),
                                            (a, x) -> greatest(a, x)) / 127.0 AS scale
                         FROM e),
                   qz AS (SELECT vec_id, v,
                                 list_transform(v, x -> floor(
                                   CASE WHEN scale = 0.0 THEN 0.0 ELSE x / scale END + 0.5)) AS q
                          FROM m),
                   c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
                   asg AS (SELECT z.vec_id, z.q, c.cid,
                                  row_number() OVER (PARTITION BY z.vec_id
                                    ORDER BY list_cosine_similarity(z.v, c.cv) DESC, c.cid) AS rn
                           FROM qz z CROSS JOIN c),
                   idx AS (SELECT vec_id, q, cid FROM asg WHERE rn = 1),
                   qq AS (SELECT q AS qv FROM qz WHERE vec_id = 1),
                   probes AS (SELECT cid FROM c, qq
                              ORDER BY list_cosine_similarity(qv, cv) DESC, cid LIMIT 4),
                   cand AS (SELECT i.vec_id, i.cid,
                                   list_dot_product(i.q, qv)
                                     / (sqrt(list_dot_product(i.q, i.q))
                                          * sqrt(list_dot_product(qv, qv))) AS qc
                            FROM idx i JOIN probes USING (cid), qq WHERE i.vec_id <> 1)
              SELECT vec_id, cid AS cent_id, ROUND(qc, 4) AS qcos
              FROM cand ORDER BY qc DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        Similarity.ivfQuantizedTopK(e, e.filter(col("vec_id") < 16),
          "vec_id", "embedding", queryId = 1, k = 10, nProbe = 4)
      }),

    // IVF with k-means-built centroids (2 Lloyd iterations from a
    // deterministic seed): the offline index-construction path. Fully
    // oracle-checked: the centroids are computed once per (session, dir)
    // and injected into the DuckDB SQL as literal VALUES (resolved at
    // oracle-dump time), so both engines assign, probe, and rank against
    // identical doubles — the same technique as q_sim_ivf_bucketed's
    // driver-literal centroids.
    Q("q_sim_ann_kmeans",
      Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                          FROM embeddings),
                    c AS (SELECT cid, cv FROM (VALUES $kmeansPlaceholder) t(cid, cv)),
                    asg AS (SELECT e.vec_id, e.v, c.cid,
                                   row_number() OVER (PARTITION BY e.vec_id
                                     ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
                            FROM e CROSS JOIN c),
                    idx AS (SELECT vec_id, v, cid FROM asg WHERE rn = 1),
                    q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
                    probes AS (SELECT cid FROM c, q
                               ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 4),
                    cand AS (SELECT i.vec_id, i.cid, list_cosine_similarity(i.v, qv) AS cos_raw
                             FROM idx i JOIN probes USING (cid), q WHERE i.vec_id <> 1)
               SELECT vec_id, cid AS cent_id, ROUND(cos_raw, 4) AS cos
               FROM cand ORDER BY cos_raw DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        import s.implicits._
        val cents = kmeansCents(s, dir).toDF("vec_id", "embedding")
        Similarity.ivfTopK(t(s, dir, "embeddings"), cents,
          "vec_id", "embedding", queryId = 1, k = 10, nProbe = 4)
      }),

    // IVF over a PERSISTED bucketed index (the production shape): the
    // index is a bucketed+sorted table on cent_id, the probe is a
    // bucket-PRUNED scan of nProbe cells (SelectedBucketsCount pinned in
    // PlanSpec). Deterministic given the deterministic centroid pick, so
    // — unlike the in-memory ANN variants — it carries a full DuckDB
    // oracle: same assignment argmax (cosine, ties to lowest cell id),
    // same probe choice, same in-cell exact ranking.
    Q("q_sim_ivf_bucketed",
      Some("""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                         FROM embeddings),
                   c AS (SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 16),
                   asg AS (SELECT e.vec_id, e.v, c.cid,
                                  row_number() OVER (PARTITION BY e.vec_id
                                    ORDER BY list_cosine_similarity(e.v, c.cv) DESC, c.cid) AS rn
                           FROM e CROSS JOIN c),
                   idx AS (SELECT vec_id, v, cid FROM asg WHERE rn = 1),
                   q AS (SELECT v AS qv FROM e WHERE vec_id = 1),
                   probes AS (SELECT cid FROM c, q
                              ORDER BY list_cosine_similarity(cv, qv) DESC, cid LIMIT 4),
                   cand AS (SELECT i.vec_id, i.cid, list_cosine_similarity(i.v, qv) AS cos_raw
                            FROM idx i JOIN probes USING (cid), q WHERE i.vec_id <> 1)
              SELECT vec_id, cid AS cent_id, ROUND(cos_raw, 4) AS cos
              FROM cand ORDER BY cos_raw DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val tbl = Similarity.ivfIndexBucketed(s, dir, e,
          e.filter(col("vec_id") < 16), "vec_id", "embedding",
          srcPaths = Seq(s"$dir/embeddings.parquet"))
        val cents = e.filter(col("vec_id") < 16)
          .select(col("vec_id").cast("long").as("cent_id"),
            expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("cv"))
        Similarity.ivfSearchPruned(s, tbl, cents, queryId = 1, k = 10, nProbe = 4)
      }),

    // IVF-PQ (Jégou'11): coarse cells prune IO, product codes shrink
    // the index 64x (8 codes vs 64 doubles). Deterministic end-to-end —
    // L2 code assignment with sequential folds and lowest-code ties,
    // cosine-vs-reconstruction ranking — so it carries a full DuckDB
    // oracle via the codebook literal (the k-means driver-literal
    // technique, extended to m subspace codebooks as VERDICT r9
    // prescribed).
    Q("q_sim_ivf_pq",
      Some(s"""WITH $pqCandCtes
               SELECT vec_id, cid AS cent_id, ROUND(pq_raw, 4) AS pqcos
               FROM cand ORDER BY pq_raw DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val coarse = e.filter(col("vec_id") < 16)
        val books = pqBooks(s, dir)
        // pinned: the probe join otherwise re-expands the inline
        // index's assignment + m-subspace encode expressions into its
        // join key and inferred constraints (see Similarity.pinned)
        Similarity.pqSearch(
          graft.api.Pins.pin(
            Similarity.pqIndex(e, coarse, "vec_id", "embedding", books)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)),
          e, coarse, "vec_id", "embedding", books,
          queryId = 1, k = 10, nProbe = 4)
      }),

    // The FAISS refine stage on the same candidates: exact re-rank of
    // the ADC top-100 against the raw vectors (full-precision reads
    // confined to 100 rows) — the lever that took probe recall from
    // 0.30 to 0.89-0.91.
    Q("q_sim_ivf_pq_rerank",
      Some(s"""WITH $pqCandCtes,
                    rr AS (SELECT vec_id FROM cand
                           ORDER BY pq_raw DESC, vec_id LIMIT 100),
                    ex AS (SELECT e.vec_id,
                                  list_cosine_similarity(e.v, qv) AS cos_raw
                           FROM e JOIN rr USING (vec_id), q)
               SELECT vec_id, ROUND(cos_raw, 4) AS cos
               FROM ex ORDER BY cos_raw DESC, vec_id LIMIT 10"""),
      (s, dir) => {
        val e = t(s, dir, "embeddings")
        val coarse = e.filter(col("vec_id") < 16)
        val books = pqBooks(s, dir)
        // pinned: same re-expansion rationale as q_sim_ivf_pq
        Similarity.pqTopKRerank(
          graft.api.Pins.pin(
            Similarity.pqIndex(e, coarse, "vec_id", "embedding", books)
              .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)),
          e, coarse, "vec_id", "embedding", books,
          queryId = 1, k = 10, nProbe = 4, rerank = 100)
      }),

    // Sign-LSH bucketed ANN (Charikar'02 random hyperplanes): candidates
    // from the query's bucket only. Approximate relative to exact search
    // but fully DETERMINISTIC, and the hyperplanes are injectable
    // literals — so like the other ANN variants it carries a full DuckDB
    // oracle (recall vs the exact top-k stays pinned in PipelineSpec).
    Q("q_sim_ann_lsh",
      Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                          FROM embeddings),
                    pl AS (SELECT * FROM (VALUES ${lshPlaceholder(6)}) t(b, r)),
                    bk AS (SELECT vec_id,
                                  CAST(SUM(CASE WHEN list_dot_product(v, r) >= 0
                                           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS bucket
                           FROM e CROSS JOIN pl GROUP BY vec_id),
                    eb AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk USING (vec_id)),
                    q AS (SELECT v AS qv, bucket AS qb FROM eb WHERE vec_id = 1)
               SELECT vec_id, bucket, ROUND(list_cosine_similarity(v, qv), 4) AS cos
               FROM eb, q WHERE bucket = qb AND vec_id <> 1
               ORDER BY list_cosine_similarity(v, qv) DESC, vec_id LIMIT 10"""),
      (s, dir) => Similarity.lshTopK(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryId = 1, k = 10, bits = 6)),

    // Multi-probe sign-LSH (Lv et al. VLDB'07 Hamming-1 ring): the
    // query's bucket PLUS every bucket differing in one sign bit —
    // the near-miss recovery the recall probe showed roughly doubles
    // recall. Deterministic via the injected hyperplane literals, so
    // it carries the same full oracle as the single-probe variant.
    Q("q_sim_lsh_mp",
      Some(s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                          FROM embeddings),
                    pl AS (SELECT * FROM (VALUES ${lshPlaceholder(6)}) t(b, r)),
                    bk AS (SELECT vec_id,
                                  CAST(SUM(CASE WHEN list_dot_product(v, r) >= 0
                                           THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS bucket
                           FROM e CROSS JOIN pl GROUP BY vec_id),
                    eb AS (SELECT e.vec_id, e.v, bk.bucket FROM e JOIN bk USING (vec_id)),
                    q AS (SELECT v AS qv, bucket AS qb FROM eb WHERE vec_id = 1),
                    ring AS (SELECT qb AS rb FROM q
                             UNION ALL
                             SELECT xor(qb, CAST(1 AS BIGINT) << i) AS rb
                             FROM q, range(0, 6) t(i))
               SELECT vec_id, bucket, ROUND(list_cosine_similarity(v, qv), 4) AS cos
               FROM eb, q
               WHERE eb.bucket IN (SELECT rb FROM ring) AND vec_id <> 1
               ORDER BY list_cosine_similarity(v, qv) DESC, vec_id LIMIT 10"""),
      (s, dir) => Similarity.lshTopKMultiProbe(t(s, dir, "embeddings"),
        "vec_id", "embedding", queryId = 1, k = 10, bits = 6)),

    // ---------------- text analysis ----------------

    Q("q_text_stats",
      Some("""WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w FROM documents)
              SELECT doc_id, n_chars,
                     CAST(len(w) AS BIGINT) AS n_tokens,
                     CAST(len(list_distinct(w)) AS BIGINT) AS n_unique,
                     ROUND(CAST(n_chars AS DOUBLE) / len(w), 6) AS avg_tok_len
              FROM d ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.stats(t(s, dir, "documents"),
        "doc_id", "text", "n_chars").orderBy("doc_id")),

    Q("q_text_topwords",
      Some("""SELECT w AS word, count(*) AS n
              FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
              GROUP BY 1 ORDER BY n DESC, word LIMIT 20"""),
      (s, dir) => TextAnalysis.topWords(t(s, dir, "documents"), "text", k = 20)),

    // PMI collocations (phrase mining): ln terms rounded at 6dp and
    // combined in exact decimal — libm/JVM log differ in the last ulp,
    // so per-term rounding is what keeps the SUM engine-identical
    Q("q_text_pmi",
      Some("""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
                   uc AS (SELECT t, count(*) AS c
                          FROM (SELECT unnest(w) AS t FROM d) GROUP BY t),
                   bi AS (SELECT w1, w2, count(*) AS c_ab FROM (
                            SELECT unnest([struct_pack(w1 := w[i], w2 := w[i + 1])
                                           for i in range(1, len(w))], recursive := true)
                            FROM d WHERE len(w) >= 2)
                          GROUP BY w1, w2),
                   tot AS (SELECT (SELECT sum(c) FROM uc) AS n_tokens,
                                  (SELECT sum(c_ab) FROM bi) AS n_bigrams),
                   j AS (SELECT f.w1, f.w2, f.c_ab, a.c AS c_a, b.c AS c_b,
                                tot.n_tokens, tot.n_bigrams
                         FROM bi f
                         JOIN uc a ON a.t = f.w1
                         JOIN uc b ON b.t = f.w2
                         CROSS JOIN tot
                         WHERE f.c_ab >= 5)
              SELECT w1, w2, CAST(c_ab AS BIGINT) AS c_ab,
                     CAST(CAST(round(ln(CAST(c_ab AS DOUBLE)), 6) AS DECIMAL(18,6))
                          + 2 * CAST(round(ln(CAST(n_tokens AS DOUBLE)), 6) AS DECIMAL(18,6))
                          - CAST(round(ln(CAST(n_bigrams AS DOUBLE)), 6) AS DECIMAL(18,6))
                          - CAST(round(ln(CAST(c_a AS DOUBLE)), 6) AS DECIMAL(18,6))
                          - CAST(round(ln(CAST(c_b AS DOUBLE)), 6) AS DECIMAL(18,6))
                       AS DOUBLE) AS pmi
              FROM j ORDER BY pmi DESC, w1, w2 LIMIT 100"""),
      (s, dir) => TextAnalysis.pmiBigrams(t(s, dir, "documents"), "text",
        minCount = 5, k = 100)),

    // top-V vocabulary coverage: exact integer ppm — no fp division
    Q("q_text_vocab",
      Some("""WITH wc AS (SELECT w, count(*) AS n
                          FROM (SELECT unnest(string_split(text, ' ')) AS w
                                FROM documents) GROUP BY w),
                   tot AS (SELECT sum(n) AS t FROM wc),
                   top AS (SELECT w, n FROM wc ORDER BY n DESC, w LIMIT 30),
                   c AS (SELECT w, n,
                                sum(n) OVER (ORDER BY n DESC, w
                                  ROWS UNBOUNDED PRECEDING) AS cum
                         FROM top)
              SELECT w AS word, CAST(n AS BIGINT) AS n,
                     CAST(cum * 1000000 // t AS BIGINT) AS cum_ppm
              FROM c, tot ORDER BY n DESC, word"""),
      (s, dir) => TextAnalysis.vocabCoverage(t(s, dir, "documents"),
        "text", v = 30)),

    // The exact-integer half of the Gopher repetition battery
    // (q_text_repetition carries the fp top-word/dup-bigram fractions):
    // duplicate-word share + top 2/3-gram token share, integer ppm
    Q("q_text_rep_ngram",
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
                         FROM documents),
                   base AS (SELECT doc_id, len(w) AS n_words,
                                   len(list_distinct(w)) AS n_distinct
                            FROM w),
                   g2 AS (SELECT doc_id, max(c) AS t2 FROM (
                            SELECT doc_id, g, count(*) AS c FROM (
                              SELECT doc_id,
                                     unnest(list_transform(range(1, len(w)),
                                       i -> w[i] || ' ' || w[i + 1])) AS g
                              FROM w WHERE len(w) >= 2)
                            GROUP BY doc_id, g) GROUP BY doc_id),
                   g3 AS (SELECT doc_id, max(c) AS t3 FROM (
                            SELECT doc_id, g, count(*) AS c FROM (
                              SELECT doc_id,
                                     unnest(list_transform(range(1, len(w) - 1),
                                       i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS g
                              FROM w WHERE len(w) >= 3)
                            GROUP BY doc_id, g) GROUP BY doc_id)
              SELECT b.doc_id, CAST(n_words AS BIGINT) AS n_words,
                     CAST((n_words - n_distinct) * 1000000 // n_words
                          AS BIGINT) AS dup_word_ppm,
                     CAST(COALESCE(t2 * 2000000 // n_words, 0)
                          AS BIGINT) AS top2_ppm,
                     CAST(COALESCE(t3 * 3000000 // n_words, 0)
                          AS BIGINT) AS top3_ppm
              FROM base b
              LEFT JOIN g2 USING (doc_id) LEFT JOIN g3 USING (doc_id)
              ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.repetitionMetrics(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id")),

    // cross-document shared-segment coverage (Lee et al. 2022): ppm of
    // each doc's word 8-gram positions whose 8-gram occurs in >= 2 docs
    Q("q_dedup_segments",
      Some("""WITH p AS (SELECT doc_id, len(w) - 7 AS n_grams,
                                unnest(list_transform(range(1, len(w) - 6),
                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                    || ' ' || w[i+3] || ' ' || w[i+4]
                                    || ' ' || w[i+5] || ' ' || w[i+6]
                                    || ' ' || w[i+7])) AS g
                         FROM (SELECT doc_id, string_split(text, ' ') AS w
                               FROM documents)
                         WHERE len(w) >= 8),
                   df AS (SELECT g FROM (
                            SELECT g, count(DISTINCT doc_id) AS df
                            FROM p GROUP BY g) WHERE df >= 2)
              SELECT doc_id, CAST(n_grams AS BIGINT) AS n_grams,
                     count(*) AS n_shared_pos,
                     CAST(count(*) * 1000000 // n_grams AS BIGINT)
                       AS shared_ppm
              FROM p WHERE g IN (SELECT g FROM df)
              GROUP BY doc_id, n_grams ORDER BY doc_id"""),
      (s, dir) => Dedup.sharedSegmentCoverage(t(s, dir, "documents"),
        "doc_id", "text", k = 8).orderBy("doc_id")),

    // span-level exact-substring dedup REMOVAL (Lee et al. 2022): every
    // maximal run of >= 3 consecutive shared 8-gram positions is cut
    // from all occurrences but the first (min doc_id, start) and the
    // surviving tokens re-stitched — docs shortened, never dropped. The
    // oracle replays the identical runs/keeper/stitch arithmetic on
    // gram STRINGS where Spark uses xxhash64 keys (same equivalence
    // classes, the q_dedup_segments trade).
    Q("q_dedup_span_removal",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                         FROM documents),
                   p AS (SELECT doc_id,
                                unnest(range(1, len(w) - 6)) AS i,
                                unnest(list_transform(range(1, len(w) - 6),
                                  i -> array_to_string(w[i:i+7], ' '))) AS g
                         FROM d WHERE len(w) >= 8),
                   sh AS (SELECT g FROM (
                            SELECT g, count(DISTINCT doc_id) AS df
                            FROM p GROUP BY g) WHERE df >= 2),
                   sp AS (SELECT doc_id, i FROM p
                          WHERE g IN (SELECT g FROM sh)),
                   runs AS (SELECT doc_id, min(i) AS s, count(*) AS glen
                            FROM (SELECT doc_id, i,
                                         i - row_number() OVER (
                                           PARTITION BY doc_id ORDER BY i)
                                           AS isl
                                  FROM sp)
                            GROUP BY doc_id, isl HAVING count(*) >= 3),
                   occ AS (SELECT r.doc_id, r.s, r.s + r.glen + 6 AS e,
                                  array_to_string(
                                    d.w[r.s : r.s + r.glen + 6], ' ') AS span
                           FROM runs r JOIN d ON d.doc_id = r.doc_id),
                   cuts AS (SELECT doc_id, s, e FROM (
                              SELECT occ.*, row_number() OVER (
                                PARTITION BY span ORDER BY doc_id, s) AS rn
                              FROM occ) WHERE rn > 1),
                   rm AS (SELECT DISTINCT doc_id, j FROM (
                            SELECT doc_id, unnest(range(s, e + 1)) AS j
                            FROM cuts)),
                   tok AS (SELECT doc_id, unnest(w) AS tk,
                                  unnest(range(1, len(w) + 1)) AS j FROM d),
                   kept AS (SELECT t.doc_id, t.tk, t.j
                            FROM tok t LEFT JOIN rm
                              ON rm.doc_id = t.doc_id AND rm.j = t.j
                            WHERE rm.j IS NULL),
                   agg AS (SELECT doc_id,
                                  string_agg(tk, ' ' ORDER BY j) AS txt,
                                  count(*) AS nk
                           FROM kept GROUP BY doc_id)
              SELECT d.doc_id, COALESCE(a.txt, '') AS text_clean,
                     CAST(len(d.w) - COALESCE(a.nk, 0) AS BIGINT)
                       AS n_removed
              FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id
              ORDER BY d.doc_id"""),
      (s, dir) => spanCut(s, dir).orderBy("doc_id")),

    // the PER-GRAM-keeper span removal (aggressive variant): every
    // shared gram's min (doc_id, pos) occurrence is the keeper, runs of
    // non-keeper positions are cut — catches duplicated blocks whose
    // maximal-run extents differ across docs (which the whole-run
    // variant keeps). The two queries bracket the suffix-array
    // reference from below and above.
    Q("q_dedup_span_gram",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                         FROM documents),
                   p AS (SELECT doc_id,
                                unnest(range(1, len(w) - 6)) AS i,
                                unnest(list_transform(range(1, len(w) - 6),
                                  i -> array_to_string(w[i:i+7], ' '))) AS g
                         FROM d WHERE len(w) >= 8),
                   sh AS (SELECT g FROM (
                            SELECT g, count(DISTINCT doc_id) AS df
                            FROM p GROUP BY g) WHERE df >= 2),
                   kp AS (SELECT g, doc_id AS kd, i AS ki FROM (
                            SELECT p.*, row_number() OVER (
                              PARTITION BY g ORDER BY doc_id, i) AS rn
                            FROM p WHERE g IN (SELECT g FROM sh))
                          WHERE rn = 1),
                   rmv AS (SELECT p.doc_id, p.i
                           FROM p JOIN kp USING (g)
                           WHERE NOT (p.doc_id = kp.kd AND p.i = kp.ki)),
                   runs AS (SELECT doc_id, min(i) AS s, count(*) AS glen
                            FROM (SELECT doc_id, i,
                                         i - row_number() OVER (
                                           PARTITION BY doc_id ORDER BY i)
                                           AS isl
                                  FROM rmv)
                            GROUP BY doc_id, isl HAVING count(*) >= 3),
                   rm AS (SELECT DISTINCT doc_id, j FROM (
                            SELECT doc_id, unnest(range(s, s + glen + 7)) AS j
                            FROM runs)),
                   tok AS (SELECT doc_id, unnest(w) AS tk,
                                  unnest(range(1, len(w) + 1)) AS j FROM d),
                   kept AS (SELECT t.doc_id, t.tk, t.j
                            FROM tok t LEFT JOIN rm
                              ON rm.doc_id = t.doc_id AND rm.j = t.j
                            WHERE rm.j IS NULL),
                   agg AS (SELECT doc_id,
                                  string_agg(tk, ' ' ORDER BY j) AS txt,
                                  count(*) AS nk
                           FROM kept GROUP BY doc_id)
              SELECT d.doc_id, COALESCE(a.txt, '') AS text_clean,
                     CAST(len(d.w) - COALESCE(a.nk, 0) AS BIGINT)
                       AS n_removed
              FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id
              ORDER BY d.doc_id"""),
      (s, dir) => Dedup.removeSharedSegmentsByGram(t(s, dir, "documents"),
        "doc_id", "text", k = 8, minLen = 3).orderBy("doc_id")),

    // EXACT-substring duplicate-extent removal (Lee et al. 2022
    // delete-all semantics): every occurrence of every duplicated
    // substring of length >= 8 tokens is cut. Coverage by duplicated
    // substrings of length >= k IS coverage by duplicated k-grams
    // (each window of such a substring is itself duplicated), so the
    // gram plan computes the suffix-array reference tool's answer
    // exactly — no bracket caveat. Occurrence counts (not distinct
    // docs): within-doc repeats are duplicated too. The oracle replays
    // grams as strings (the q_dedup_segments hash-vs-string trade),
    // the gap<=k-1 island merge, and the stitch.
    Q("q_dedup_span_exact",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                         FROM documents),
                   p AS (SELECT doc_id,
                                unnest(range(1, len(w) - 6)) AS i,
                                unnest(list_transform(range(1, len(w) - 6),
                                  i -> array_to_string(w[i:i+7], ' '))) AS g
                         FROM d WHERE len(w) >= 8),
                   dup AS (SELECT g FROM (
                             SELECT g, count(*) AS c
                             FROM p GROUP BY g) WHERE c >= 2),
                   ds AS (SELECT doc_id, i FROM p
                          WHERE g IN (SELECT g FROM dup)),
                   isl AS (SELECT doc_id, i, sum(brk) OVER (
                             PARTITION BY doc_id ORDER BY i) AS grp
                           FROM (SELECT doc_id, i,
                                   CASE WHEN i - lag(i) OVER (
                                     PARTITION BY doc_id ORDER BY i) <= 7
                                     THEN 0 ELSE 1 END AS brk
                                 FROM ds)),
                   runs AS (SELECT doc_id, min(i) AS s, max(i) + 7 AS e
                            FROM isl GROUP BY doc_id, grp),
                   rm AS (SELECT DISTINCT doc_id, j FROM (
                            SELECT doc_id, unnest(range(s, e + 1)) AS j
                            FROM runs)),
                   tok AS (SELECT doc_id, unnest(w) AS tk,
                                  unnest(range(1, len(w) + 1)) AS j FROM d),
                   kept AS (SELECT t.doc_id, t.tk, t.j
                            FROM tok t LEFT JOIN rm
                              ON rm.doc_id = t.doc_id AND rm.j = t.j
                            WHERE rm.j IS NULL),
                   agg AS (SELECT doc_id,
                                  string_agg(tk, ' ' ORDER BY j) AS txt,
                                  count(*) AS nk
                           FROM kept GROUP BY doc_id)
              SELECT d.doc_id, COALESCE(a.txt, '') AS text_clean,
                     CAST(len(d.w) - COALESCE(a.nk, 0) AS BIGINT)
                       AS n_removed
              FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id
              ORDER BY d.doc_id"""),
      (s, dir) => Dedup.removeDuplicatedExtents(t(s, dir, "documents"),
        "doc_id", "text", k = 8).orderBy("doc_id")),

    // CCNet-style paragraph-level exact dedup (Wenzek et al. 2020):
    // deterministic 15-token segmentation, every repeated segment cut
    // from all occurrences but its min (doc_id, seg_idx) keeper, docs
    // shortened never dropped. The oracle replays segmentation, keeper
    // choice and stitch on segment STRINGS where Spark keys by xxhash64
    // (same equivalence classes, the q_dedup_segments trade).
    Q("q_dedup_paragraph",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                         FROM documents),
                   s AS (SELECT doc_id,
                                unnest(range(0, (len(w) + 14) // 15)) AS seg_idx,
                                unnest(list_transform(range(0, (len(w) + 14) // 15),
                                  i -> array_to_string(w[i*15+1 : i*15+15], ' ')))
                                  AS seg
                         FROM d),
                   kp AS (SELECT doc_id, seg_idx, seg,
                                 row_number() OVER (PARTITION BY seg
                                   ORDER BY doc_id, seg_idx) AS rn
                          FROM s),
                   agg AS (SELECT doc_id,
                                  string_agg(seg, ' ' ORDER BY seg_idx) AS txt,
                                  count(*) AS n_kept
                           FROM kp WHERE rn = 1 GROUP BY doc_id),
                   tot AS (SELECT doc_id, count(*) AS n_segs
                           FROM s GROUP BY doc_id)
              SELECT t.doc_id, COALESCE(a.txt, '') AS text_clean,
                     CAST(t.n_segs AS BIGINT) AS n_segs,
                     CAST(t.n_segs - COALESCE(a.n_kept, 0) AS BIGINT)
                       AS n_removed
              FROM tot t LEFT JOIN agg a USING (doc_id)
              ORDER BY t.doc_id"""),
      (s, dir) => Dedup.dropDuplicateParagraphs(t(s, dir, "documents"),
        "doc_id", "text", segTokens = 15).orderBy("doc_id")),

    // Normalization-tolerant exact dedup: case/punctuation/whitespace
    // variants hash together (the dominant trivial-duplicate classes in
    // crawl data). The query PLANTS the variants — a mutated twin of
    // every doc (uppercased + trailing punctuation, id + 1e6) — and the
    // normalized pass must collapse each twin onto its original.
    Q("q_dedup_exact_norm",
      Some("""WITH u AS (SELECT doc_id, text FROM documents
                         UNION ALL
                         SELECT doc_id + 1000000, upper(text) || ' !!'
                         FROM documents),
                   n AS (SELECT doc_id,
                                trim(regexp_replace(regexp_replace(
                                  lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                  ' +', ' ', 'g')) AS nt
                         FROM u),
                   k AS (SELECT doc_id, row_number() OVER (
                           PARTITION BY nt ORDER BY doc_id) AS rn
                         FROM n)
              SELECT doc_id FROM k WHERE rn = 1 ORDER BY doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
        val planted = docs.unionByName(
          docs.select((col("doc_id") + lit(1000000L)).as("doc_id"),
            concat(upper(col("text")), lit(" !!")).as("text")))
        Dedup.dropExactDuplicatesNormalized(planted, "doc_id", "text")
          .select("doc_id").orderBy("doc_id")
      }),

    // Incremental paragraph dedup: the 10% increment (doc_id % 10 = 0,
    // the q_dedup_incr convention) against the frozen 90% corpus —
    // corpus-priority semantics: an increment segment is cut if the
    // corpus has it AT ALL, plus within-increment repeats beyond the
    // min occurrence. Output covers increment docs only.
    Q("q_dedup_paragraph_incr",
      Some(parIncrOracle),
      (s, dir) => {
        // the corpus side attaches the PERSISTED segment index (cold
        // sessions re-segment nothing) — the production path, same
        // result as segmenting the corpus inline
        Dedup.incrementalParagraphDedupByHash(corpusSegIndex(s, dir),
          t(s, dir, "documents").filter(col("doc_id") % 10 === 0),
          "doc_id", "text", segTokens = 15).orderBy("doc_id")
      }),

    // per-source length percentiles: exact integer-rank p50/p90/p99
    Q("q_stats_length_pct",
      Some("""WITH r AS (SELECT source, n_chars AS v,
                                row_number() OVER (PARTITION BY source
                                  ORDER BY n_chars) AS rn,
                                count(*) OVER (PARTITION BY source) AS n
                         FROM documents WHERE n_chars IS NOT NULL)
              SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
                     CAST(min(CASE WHEN rn >= (50 * n + 99) // 100 THEN v END)
                          AS BIGINT) AS p50,
                     CAST(min(CASE WHEN rn >= (90 * n + 99) // 100 THEN v END)
                          AS BIGINT) AS p90,
                     CAST(min(CASE WHEN rn >= (99 * n + 99) // 100 THEN v END)
                          AS BIGINT) AS p99
              FROM r GROUP BY source ORDER BY source"""),
      (s, dir) => TextAnalysis.lengthPercentiles(t(s, dir, "documents"),
        "source", "n_chars")),

    // cross-source duplication matrix over the near-dup pair set: the
    // "where does the duplication live" curation diagnostic
    Q("q_dedup_src_matrix",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                   sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+3], ' ')
                                                        for i in range(1, len(w)-2)]) AS toks
                          FROM d WHERE len(w) >= 4),
                   ex AS (SELECT doc_id, unnest(toks) AS tok FROM sh),
                   p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
                         FROM ex a JOIN ex b USING (tok) WHERE a.doc_id < b.doc_id GROUP BY 1, 2),
                   sz AS (SELECT doc_id, len(toks) AS sz FROM sh),
                   pr AS (SELECT doc_a, doc_b
                          FROM p JOIN sz sa ON sa.doc_id = doc_a
                                 JOIN sz sb ON sb.doc_id = doc_b
                          WHERE CAST(inter AS DOUBLE) / (sa.sz + sb.sz - inter) >= 0.5),
                   m AS (SELECT least(da.source, db.source) AS source_a,
                                greatest(da.source, db.source) AS source_b
                         FROM pr JOIN documents da ON da.doc_id = doc_a
                                 JOIN documents db ON db.doc_id = doc_b)
              SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_pairs
              FROM m GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => graft.api.Dedup.pairSourceMatrix(nearPairs(s, dir),
        t(s, dir, "documents"), "doc_id", "source")),

    Q("q_token_count",
      Some("""SELECT doc_id,
                     CAST(len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS BIGINT) AS n_bpe_ish,
                     CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws
              FROM documents ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.tokenCounts(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id")),

    // Real subword tokenization: deterministic byte-level BPE with a
    // corpus-trained merges table (api.Bpe — trained once on the
    // V-bounded (word, count) table, the k-means driver-literal
    // discipline). The oracle receives only the MERGES TABLE as a
    // literal and replays the greedy merge loop itself in a recursive
    // CTE (merge-all per round via a left-to-right fold), so the
    // per-word encoding is independently recomputed, not trusted.
    Q("q_token_count_bpe",
      Some(s"""WITH RECURSIVE $bpeCountCtes
              SELECT doc_id, n_words, n_bpe_tokens
              FROM dtok ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.bpeTokenCounts(t(s, dir, "documents"),
        "doc_id", "text", bpeMerges(s, dir)).orderBy("doc_id")),

    // Full BPE tokenization to vocabulary ids (byte tokens 0-255 +
    // merged tokens 256+first-appearance-rank): the id stream a
    // training pipeline writes. The oracle derives the identical
    // vocabulary from the same merges literal (order-preserving dedupe
    // of the merged strings) and hash-checks every (doc, word, token)
    // id — encoding AND id assignment both independently replayed.
    Q("q_bpe_encode",
      Some(s"""WITH RECURSIVE $bpeStreamCtes
              SELECT doc_id,
                     CAST(word_idx AS BIGINT) AS word_idx,
                     CAST(ti AS BIGINT) AS tok_idx,
                     token_id
              FROM strm
              ORDER BY doc_id, word_idx, tok_idx"""),
      (s, dir) => TextAnalysis.bpeEncode(t(s, dir, "documents"),
        "doc_id", "text", bpeMerges(s, dir))
        .orderBy("doc_id", "word_idx", "tok_idx")),

    // Packed token-stream construction: the corpus's BPE id stream
    // chunked into fixed-length training sequences (the .bin-shard
    // layout) — docs concatenate back-to-back in id order, sequences
    // span docs. The per-sequence digest (count, doc count, first/last
    // ids, order-sensitive checksum) pins the ENTIRE stream: any
    // reorder, substitution, or offset error changes a checksum.
    Q("q_pack_token_stream",
      Some(s"""WITH RECURSIVE $bpeStreamCtes,
                   idx AS (SELECT doc_id, token_id,
                                  row_number() OVER (PARTITION BY doc_id
                                    ORDER BY word_idx, ti) - 1 AS in_doc
                           FROM strm),
                   cnts AS (SELECT doc_id, count(*) AS n FROM idx
                            GROUP BY doc_id),
                   offs AS (SELECT doc_id,
                                   COALESCE(SUM(n) OVER (ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS doc_off
                            FROM cnts),
                   g AS (SELECT idx.doc_id, idx.token_id,
                                offs.doc_off + idx.in_doc AS gpos
                         FROM idx JOIN offs USING (doc_id)),
                   sq AS (SELECT gpos // 128 AS seq_id, gpos % 128 AS pos,
                                 token_id, doc_id
                          FROM g)
              SELECT CAST(seq_id AS BIGINT) AS seq_id,
                     count(*) AS n_tokens,
                     count(DISTINCT doc_id) AS n_docs,
                     arg_min(token_id, pos) AS first_id,
                     arg_max(token_id, pos) AS last_id,
                     CAST(SUM((pos + 1) * token_id) AS BIGINT) AS checksum
              FROM sq GROUP BY seq_id ORDER BY seq_id"""),
      (s, dir) => packedStream(s, dir).orderBy("seq_id")),

    // Deterministic seeded shuffle of the packed sequences: the
    // epoch-reproducible training-order permutation (rank under
    // (polyhash(seed:seq_id), seq_id)). The oracle replays the FULL
    // permutation — both engines rank the identical hash fold.
    Q("q_pack_shuffle",
      Some(s"""WITH RECURSIVE $bpeStreamCtes,
                   idx AS (SELECT doc_id, token_id,
                                  row_number() OVER (PARTITION BY doc_id
                                    ORDER BY word_idx, ti) - 1 AS in_doc
                           FROM strm),
                   cnts AS (SELECT doc_id, count(*) AS n FROM idx
                            GROUP BY doc_id),
                   offs AS (SELECT doc_id,
                                   COALESCE(SUM(n) OVER (ORDER BY doc_id
                                     ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0) AS doc_off
                            FROM cnts),
                   g AS (SELECT idx.doc_id, idx.token_id,
                                offs.doc_off + idx.in_doc AS gpos
                         FROM idx JOIN offs USING (doc_id)),
                   pk AS (SELECT gpos // 128 AS seq_id,
                                 CAST(SUM((gpos % 128 + 1) * token_id)
                                   AS BIGINT) AS checksum
                          FROM g GROUP BY 1)
              SELECT CAST(seq_id AS BIGINT) AS seq_id, checksum,
                     row_number() OVER (ORDER BY
                       ${graft.api.Mixing.knuthHashSql(
                         "(" + graft.api.Mixing.polyHashSql(
                           "'7:' || CAST(seq_id AS VARCHAR)") + ")")},
                       seq_id) - 1
                       AS shuffle_pos
              FROM pk ORDER BY seq_id"""),
      (s, dir) => graft.api.Packing.shuffleOrder(
        packedStream(s, dir).select("seq_id", "checksum"),
        "seq_id", seed = 7L)
        .select("seq_id", "checksum", "shuffle_pos")
        .orderBy("seq_id")),

    // Token-budget mixture denominated in BPE tokens — how training
    // recipes actually specify budgets ("N tokens of source X" means
    // TOKENIZER tokens, not chars): same exact-integer Knuth-hash
    // window as q_mix_token_budget, counting n_bpe_tokens.
    Q("q_mix_token_budget_bpe",
      Some(s"""WITH RECURSIVE $bpeCountCtes,
                   r AS (SELECT d.source, dtok.n_bpe_tokens,
                                sum(dtok.n_bpe_tokens) OVER (
                                  PARTITION BY d.source
                                  ORDER BY ${graft.api.Mixing.knuthHashSql("dtok.doc_id")},
                                           dtok.doc_id
                                  ROWS UNBOUNDED PRECEDING) AS cum
                         FROM dtok JOIN documents d ON d.doc_id = dtok.doc_id)
               SELECT source, count(*) AS n_docs,
                      CAST(sum(n_bpe_tokens) AS BIGINT) AS n_tokens
               FROM r
               WHERE cum <= CASE source WHEN 'src0' THEN 800
                                        WHEN 'src1' THEN 500
                                        WHEN 'src2' THEN 1000
                                        ELSE 9223372036854775807 END
               GROUP BY source ORDER BY source"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val counts = TextAnalysis.bpeTokenCounts(docs, "doc_id", "text",
          bpeMerges(s, dir))
        graft.api.Mixing.tokenBudgetSample(
            counts.join(docs.select("doc_id", "source"), "doc_id"),
            "doc_id", "source", "n_bpe_tokens",
            Map("src0" -> 800L, "src1" -> 500L, "src2" -> 1000L))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_bpe_tokens")).as("n_tokens"))
          .orderBy("source")
      }),

    // Deterministic fractional upsampling — "2.5 epochs of src0, a
    // quarter of src1, everything else once": floor(rate) repeats plus
    // a Knuth-hash-selected extra for the fractional part, exact
    // integer thresholds on both engines. rep keeps (id, rep) unique.
    Q("q_mix_upsample",
      Some(s"""WITH r AS (SELECT doc_id, source,
                     CASE source WHEN 'src0' THEN 2
                                 WHEN 'src1' THEN 0 ELSE 1 END AS base,
                     CASE source
                       WHEN 'src0' THEN ${graft.api.Mixing.threshold(0.5)}
                       WHEN 'src1' THEN ${graft.api.Mixing.threshold(0.25)}
                       ELSE 0 END AS thr
                    FROM documents),
                   n AS (SELECT doc_id, source,
                                base + CASE WHEN
                                  ${graft.api.Mixing.knuthHashSql("doc_id")}
                                  < thr THEN 1 ELSE 0 END AS n
                         FROM r)
              SELECT doc_id, source,
                     CAST(unnest(range(0, n)) AS BIGINT) AS rep
              FROM n WHERE n > 0 ORDER BY doc_id, rep"""),
      (s, dir) => graft.api.Mixing.upsample(
          t(s, dir, "documents").select("doc_id", "source"),
          "doc_id", "source", Map("src0" -> 2.5, "src1" -> 0.25))
        .select(col("doc_id"), col("source"), col("rep").cast("long"))
        .orderBy("doc_id", "rep")),

    // Tokenizer efficiency per source: chars-per-BPE-token (exact ppm)
    // — the compression-ratio metric tokenizer/corpus pairings are
    // compared on ("bytes per token" in tokenizer papers; ASCII corpus
    // so chars == bytes). One vocab-side encode, one broadcast-sized
    // join, one hash agg on |sources| groups.
    Q("q_bpe_compression",
      Some(s"""WITH RECURSIVE $bpeCountCtes
              SELECT d.source, count(*) AS n_docs,
                     CAST(sum(d.n_chars) AS BIGINT) AS n_chars,
                     CAST(sum(dtok.n_bpe_tokens) AS BIGINT) AS n_tokens,
                     CAST(sum(d.n_chars) * 1000000
                          // sum(dtok.n_bpe_tokens) AS BIGINT)
                       AS chars_per_tok_ppm
              FROM dtok JOIN documents d ON d.doc_id = dtok.doc_id
              WHERE d.source IS NOT NULL AND d.n_chars IS NOT NULL
              GROUP BY d.source ORDER BY d.source"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        docs.filter(col("source").isNotNull && col("n_chars").isNotNull)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .join(TextAnalysis.bpeTokenCounts(docs, "doc_id", "text",
            bpeMerges(s, dir)), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_chars")).cast("long").as("n_chars"),
            sum(col("n_bpe_tokens")).cast("long").as("n_tokens"))
          .withColumn("chars_per_tok_ppm",
            expr("n_chars * 1000000L div n_tokens"))
          .orderBy("source")
      }),

    Q("q_quality_score",
      Some("""WITH d AS (SELECT doc_id, text, n_chars, string_split(text, ' ') AS w FROM documents),
                   f AS (SELECT doc_id, n_chars,
                                CAST(len(w) AS BIGINT) AS n_tokens,
                                CAST(len(list_filter(w, x -> list_contains(
                                  ['the','a','of','and','to','in'], x))) AS DOUBLE) / len(w) AS stop_r,
                                CAST(length(regexp_replace(text, '[^a-z]', '', 'g')) AS DOUBLE)
                                  / n_chars AS alpha_r
                         FROM d)
              SELECT doc_id, n_tokens,
                     ROUND(stop_r, 6) AS stopword_ratio,
                     ROUND(alpha_r, 6) AS alpha_ratio,
                     CAST(n_tokens BETWEEN 20 AND 90 AND stop_r >= 0.05 AS BOOLEAN) AS keep
              FROM f ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.qualityScore(t(s, dir, "documents"),
        "doc_id", "text", "n_chars").orderBy("doc_id")),

    // Fixed-weight linear quality score (the fasttext/logreg filter
    // stage shape): three exact-integer ppm features under integer
    // weights -> one BIGINT score, keep = score >= cut. No doubles
    // anywhere, so the whole model output hash-matches.
    Q("q_quality_linear",
      Some("""WITH d AS (SELECT doc_id, text, n_chars,
                                string_split(text, ' ') AS w
                         FROM documents
                         WHERE text IS NOT NULL AND n_chars IS NOT NULL
                           AND n_chars > 0),
                   f AS (SELECT doc_id,
                                len(list_filter(w, x -> list_contains(
                                  ['the','a','of','and','to','in'], x)))
                                  * 1000000 // len(w) AS stop_ppm,
                                length(regexp_replace(text, '[^a-z]', '', 'g'))
                                  * 1000000 // n_chars AS alpha_ppm,
                                least(len(w), 100) * 1000000 // 100 AS len_ppm
                         FROM d)
              SELECT doc_id,
                     CAST(stop_ppm * 3 + alpha_ppm * 1 + len_ppm * 2
                       AS BIGINT) AS score,
                     CAST(stop_ppm AS BIGINT) AS stop_ppm,
                     CAST(alpha_ppm AS BIGINT) AS alpha_ppm,
                     CAST(len_ppm AS BIGINT) AS len_ppm,
                     CAST(stop_ppm * 3 + alpha_ppm * 1 + len_ppm * 2
                          >= 1100000 AS BOOLEAN) AS keep
              FROM f ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.qualityScoreLinear(t(s, dir, "documents"),
        "doc_id", "text", "n_chars").orderBy("doc_id")),

    // Gopher rule-based quality flags (Rae et al. 2021 §A1.1): one
    // boolean per heuristic plus the conjunction, exact-integer ppm
    // features throughout. Bounds tuned so every rule splits this
    // corpus (word counts 10-99, mean word lengths ~3.7-5.1 chars) —
    // pass-through thresholds would not exercise the flags.
    Q("q_quality_gopher",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                         FROM documents),
                   m AS (SELECT doc_id,
                                CAST(len(w) AS BIGINT) AS n_words,
                                list_reduce(list_transform(w,
                                  x -> CAST(len(x) AS BIGINT)),
                                  (a, b) -> a + b) AS wchars,
                                CAST(len(list_filter(w, x ->
                                  regexp_matches(x, '[A-Za-z]')))
                                  AS BIGINT) AS alphaw,
                                CAST(len(list_filter(
                                  ['the','a','of','and','to','in'],
                                  s -> list_contains(w, s))) AS BIGINT)
                                  AS stop_hits
                         FROM d)
              SELECT doc_id, n_words,
                     wchars * 1000000 // n_words AS mean_wlen_ppm,
                     alphaw * 1000000 // n_words AS alpha_ppm,
                     stop_hits,
                     n_words BETWEEN 30 AND 90 AS f_nwords,
                     wchars * 1000000 // n_words
                       BETWEEN 4000000 AND 4750000 AS f_wlen,
                     alphaw * 1000000 // n_words >= 800000 AS f_alpha,
                     stop_hits >= 2 AS f_stop,
                     (n_words BETWEEN 30 AND 90)
                       AND (wchars * 1000000 // n_words
                            BETWEEN 4000000 AND 4750000)
                       AND (alphaw * 1000000 // n_words >= 800000)
                       AND (stop_hits >= 2) AS keep
              FROM m ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.gopherQualityFlags(t(s, dir, "documents"),
        "doc_id", "text", minWords = 30, maxWords = 90,
        minMeanWlenPpm = 4000000L, maxMeanWlenPpm = 4750000L,
        minAlphaPpm = 800000L, minStopHits = 2).orderBy("doc_id")),

    // Table profiling — per-column nulls / exact distinct / min / max
    // as strings, ONE fused aggregation pass over the table (at 100 TB
    // the scan dominates; five single-column passes would cost 5x).
    Q("q_profile_docs",
      Some("""SELECT * FROM (
                SELECT 'doc_id' AS "column",
                       count(*) - count(doc_id) AS n_nulls,
                       count(DISTINCT doc_id) AS n_distinct,
                       CAST(min(doc_id) AS VARCHAR) AS min_str,
                       CAST(max(doc_id) AS VARCHAR) AS max_str
                FROM documents
                UNION ALL
                SELECT 'lang', count(*) - count(lang),
                       count(DISTINCT lang),
                       CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
                FROM documents
                UNION ALL
                SELECT 'source', count(*) - count(source),
                       count(DISTINCT source),
                       CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
                FROM documents
                UNION ALL
                SELECT 'n_chars', count(*) - count(n_chars),
                       count(DISTINCT n_chars),
                       CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
                FROM documents)
              ORDER BY "column""""),
      (s, dir) => graft.api.Profile.profile(t(s, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars")).orderBy("column")),

    // Within-doc duplicate-paragraph fraction (the Gopher repetition
    // rule): share of 15-token segments repeating an earlier segment of
    // the same doc, exact ppm, pure map-side.
    Q("q_rep_paragraph",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w
                         FROM documents),
                   m AS (SELECT doc_id,
                                list_transform(range(0, (len(w) + 14) // 15),
                                  i -> array_to_string(w[i*15+1 : i*15+15], ' '))
                                  AS segs
                         FROM d)
              SELECT doc_id,
                     CAST(len(segs) AS BIGINT) AS n_segs,
                     CAST(len(segs) - len(list_distinct(segs)) AS BIGINT)
                       AS n_dup_segs,
                     (len(segs) - len(list_distinct(segs))) * 1000000
                       // len(segs) AS dup_ppm
              FROM m ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.duplicateSegmentStats(t(s, dir, "documents"),
        "doc_id", "text", segTokens = 15).orderBy("doc_id")),

    // Per-source adaptive quality threshold: each source's own p10 of
    // the exact-integer stopword-ppm score (histogram-rank pattern —
    // the window sees (source, ppm) counts, never corpus rows)
    Q("q_quality_adaptive",
      Some("""WITH sc AS (SELECT source,
                     (len(list_filter(string_split(text, ' '), x -> list_contains(
                       ['the','a','of','and','to','in'], x))) * 1000000)
                       // len(string_split(text, ' ')) AS ppm
                          FROM documents
                          WHERE source IS NOT NULL AND text IS NOT NULL),
                   h AS (SELECT source, ppm, count(*) AS c FROM sc GROUP BY 1, 2),
                   cum AS (SELECT source, ppm, c,
                                  SUM(c) OVER (PARTITION BY source ORDER BY ppm
                                    ROWS UNBOUNDED PRECEDING) AS hi,
                                  SUM(c) OVER (PARTITION BY source) AS n
                           FROM h)
              SELECT source, CAST(max(n) AS BIGINT) AS n_docs,
                     min(CASE WHEN hi >= (10 * n + 99) // 100
                              THEN ppm END) AS thr_ppm,
                     CAST(SUM(CASE WHEN hi >= (10 * n + 99) // 100
                              THEN c END) AS BIGINT) AS n_kept
              FROM cum GROUP BY 1 ORDER BY source"""),
      (s, dir) => TextAnalysis.adaptiveQualityThresholds(
        t(s, dir, "documents"), "source", "text")
        .orderBy("source")),

    Q("q_fingerprint",
      Some("""SELECT doc_id,
                     list_reduce(list_prepend(CAST(0 AS BIGINT),
                       list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
                       (a, x) -> (a * 31 + x) % 1000000007) AS fp
              FROM documents ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.fingerprint(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id")),

    // Top-3 tf-idf keywords per doc: three hash aggs + a ranking
    // window; ranking on the ROUNDED score keeps orderings identical.
    Q("q_text_tfidf",
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                           FROM documents),
                   tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
                   df AS (SELECT term, count(*) AS df
                          FROM (SELECT DISTINCT doc_id, term FROM tok) GROUP BY 1),
                   n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents),
                   sc AS (SELECT doc_id, term,
                                 ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
                          FROM tf JOIN df USING (term), n),
                   r AS (SELECT *, row_number() OVER (
                           PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
                         FROM sc)
              SELECT doc_id, CAST(rnk AS BIGINT) AS rnk, term, tfidf
              FROM r WHERE rnk <= 3 ORDER BY doc_id, rnk"""),
      (s, dir) => TextAnalysis.tfidfTopTerms(t(s, dir, "documents"),
        "doc_id", "text", k = 3).orderBy("doc_id", "rnk")),

    // BM25 ranked retrieval against a fixed query (one rare + three
    // common terms): retrieval-based data selection's scoring half.
    Q("q_text_bm25", Some(bm25Oracle),
      (s, dir) => TextAnalysis.bm25TopDocs(t(s, dir, "documents"),
        "doc_id", "text", Bm25Terms, k = 20, k1 = Bm25K1, b = Bm25B)),

    // Sliding-window token chunking (size 16, overlap 4): long-doc
    // segmentation before packing/embedding. Map-side array slicing
    // only — chunks at scan speed at any corpus size.
    Q("q_text_chunk",
      Some("""WITH tok AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                   ch AS (SELECT doc_id,
                                 unnest([struct_pack(i := c,
                                          t := array_to_string(w[c*12+1 : c*12+16], ' '),
                                          n := len(w[c*12+1 : c*12+16]))
                                         for c in range(0, CASE WHEN len(w) <= 16 THEN 1
                                                              ELSE (len(w)-16+11)//12 + 1 END)]) AS s
                          FROM tok)
              SELECT doc_id, CAST(s.i AS BIGINT) AS chunk_idx,
                     s.t AS chunk_text, CAST(s.n AS BIGINT) AS n_tokens
              FROM ch ORDER BY doc_id, chunk_idx"""),
      (s, dir) => TextAnalysis.chunkTokens(t(s, dir, "documents"),
        "doc_id", "text", size = 16, overlap = 4)
        .orderBy("doc_id", "chunk_idx")),

    // Feature-hashed TF cosine top-k (model-free text similarity): the
    // day-one similarity operator — no embeddings, no vocabulary; all
    // integer sums, so the full ranking carries an oracle.
    Q("q_text_hashtf", {
      val bucket = shaBucketSql("0", "term", 256)
      Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                            FROM documents),
                   tfh AS (SELECT doc_id, $bucket AS bucket, count(*) AS c
                           FROM tok GROUP BY 1, 2),
                   nm AS (SELECT doc_id, sqrt(CAST(sum(c*c) AS DOUBLE)) AS nrm
                          FROM tfh GROUP BY 1),
                   q AS (SELECT bucket, c AS qc FROM tfh WHERE doc_id = 1),
                   qn AS (SELECT nrm AS qnrm FROM nm WHERE doc_id = 1),
                   dots AS (SELECT doc_id, CAST(sum(c * qc) AS DOUBLE) AS dot
                            FROM tfh JOIN q USING (bucket)
                            WHERE doc_id <> 1 GROUP BY 1),
                   sc AS (SELECT doc_id, dot / (nrm * qnrm) AS cos_raw
                          FROM dots JOIN nm USING (doc_id), qn)
              SELECT doc_id, ROUND(cos_raw, 4) AS cos FROM sc
              ORDER BY cos_raw DESC, doc_id LIMIT 10""")
    },
      (s, dir) => TextAnalysis.hashedTfTopK(t(s, dir, "documents"),
        "doc_id", "text", queryId = 1, k = 10, dim = 256)),

    // CCNet-style bigram-LM perplexity score over a capped vocabulary:
    // the gibberish/boilerplate filter of an LLM corpus pipeline.
    Q("q_text_perplexity", Some(pplOracle),
      (s, dir) => TextAnalysis.perplexityScore(t(s, dir, "documents"),
        "doc_id", "text", vocabSize = PplVocab, addK = PplK,
        knownVocab = Some(pplVocabOf(s, dir)))
        .orderBy("doc_id")),

    // Count-min sketch frequency probes (auditable sha256 bucket hash):
    // the mergeable heavy-hitter sketch alongside HLL and quantiles.
    Q("q_sketch_cms", Some(cmsOracle),
      (s, dir) => Sketches.cmsEstimate(
        Sketches.cmsSketch(t(s, dir, "documents"), "text", CmsDepth, CmsWidth),
        CmsTerms, CmsDepth, CmsWidth)),

    // Linear-counting distinct estimate: the ORACLE-CHECKED twin of
    // q_approx_distinct — HLL's register layout is engine-internal
    // (rows-only by design), but linear counting is sha-bucket
    // occupancy + one rounded ln, replayable by any engine.
    Q("q_sketch_lc", {
      val bucket = shaBucketSql("0", "term", 4096)
      Some(s"""WITH tok AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
                    occ AS (SELECT count(DISTINCT $bucket) AS occupied FROM tok)
               SELECT CAST(4096 AS BIGINT) AS m, occupied,
                      CASE WHEN occupied < 4096
                           THEN ROUND(4096.0 * ROUND(ln(4096.0 / (4096 - occupied)), 6), 4)
                           END AS est
               FROM occ""")
    },
      (s, dir) => Sketches.linearCountDistinct(
        t(s, dir, "documents"), "text", bits = 4096)),

    // Bloom membership over the corpus vocabulary (same auditable hash
    // family): the broadcast pre-join pruning artifact — no false
    // negatives, false positives at the standard (1-e^(-kn/m))^k.
    Q("q_sketch_bloom", Some(bloomOracle),
      (s, dir) => Sketches.bloomContains(
        Sketches.bloomSketch(t(s, dir, "documents"), "text",
          BloomBits, BloomHashes),
        CmsTerms, BloomBits, BloomHashes)),

    // Shared-prefix boilerplate: documents opening with the same first-4
    // tokens share a crawl template — corpus-level complement of the
    // per-doc repetition stats (hot-prefix set filtered small BEFORE the
    // doc-assignment join, so the join is broadcast-sized at any corpus)
    Q("q_text_prefix_boiler",
      Some("""WITH p AS (SELECT doc_id,
                     array_to_string(list_slice(string_split(text, ' '), 1, 4), ' ') AS prefix
                         FROM documents),
                   hot AS (SELECT prefix, count(*) AS n_docs
                           FROM p GROUP BY 1 HAVING count(*) >= 2)
              SELECT doc_id, p.prefix, n_docs
              FROM p JOIN hot USING (prefix) ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.prefixBoilerplate(t(s, dir, "documents"),
        "doc_id", "text", k = 4, minDocs = 2)
        .orderBy("doc_id")),

    // Boilerplate-prefix REMOVAL — the cut half of the detector above
    // (the detect->remove parity the span family set): every member of
    // a >=2-doc template loses the 4-token prefix; sub-4-token docs
    // neither form nor join a template.
    Q("q_text_prefix_trim",
      Some("""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w
                         FROM documents),
                   p AS (SELECT doc_id, text, w, len(w) >= 4 AS fl,
                                array_to_string(w[1:4], ' ') AS pfx
                         FROM d),
                   hot AS (SELECT pfx FROM (
                             SELECT pfx, count(*) AS n FROM p
                             WHERE fl GROUP BY pfx) WHERE n >= 2)
              SELECT doc_id,
                     CASE WHEN fl AND pfx IN (SELECT pfx FROM hot)
                          THEN array_to_string(w[5:len(w)], ' ')
                          ELSE text END AS text_clean,
                     CAST(CASE WHEN fl AND pfx IN (SELECT pfx FROM hot)
                               THEN 4 ELSE 0 END AS BIGINT) AS n_removed
              FROM p ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.trimBoilerplatePrefix(t(s, dir, "documents"),
        "doc_id", "text", k = 4, minDocs = 2)
        .orderBy("doc_id")),

    // Shannon char entropy (quality signal): sorted distinct-char fold
    // so the fp summation order matches across engines.
    // Keep-one exact dedup over a corpus with planted duplicates (the
    // table unioned with an id-shifted copy of itself): every text
    // appears twice, the lowest id survives. WindowGroupLimit makes the
    // rank-1 window a per-group top-1 scan, not a full sort.
    Q("q_dedup_exact_drop",
      Some("""WITH d AS (SELECT doc_id, text FROM documents),
                   u AS (SELECT doc_id, text FROM d
                         UNION ALL SELECT doc_id + 1000000, text FROM d),
                   r AS (SELECT doc_id, row_number() OVER (
                           PARTITION BY sha256(text) ORDER BY doc_id) AS rn
                         FROM u)
              SELECT doc_id FROM r WHERE rn = 1 ORDER BY doc_id"""),
      (s, dir) => {
        val d = t(s, dir, "documents").select("doc_id", "text")
        val dup = d.union(
          d.select((col("doc_id") + 1000000).as("doc_id"), col("text")))
        Dedup.dropExactDuplicates(dup, "doc_id", "text")
          .select("doc_id").orderBy("doc_id")
      }),

    // Padding-waste diagnostics by power-of-two length bucket: the
    // numbers that motivate packing (padded batches burn cap-len per
    // doc). Integer-only bucket pick, so the oracle is exact.
    Q("q_pack_lenbuckets",
      Some("""WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
                         FROM documents),
                   b AS (SELECT n_tokens,
                                list_min(list_filter([1 << p for p in range(0, 21)],
                                                     c -> c >= n_tokens)) AS cap
                         FROM d)
              SELECT CAST(cap AS BIGINT) AS cap, count(*) AS n_docs,
                     CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
                     CAST(sum(cap) - sum(n_tokens) AS BIGINT) AS pad_waste
              FROM b GROUP BY 1 ORDER BY 1"""),
      (s, dir) => Packing.lengthBuckets(t(s, dir, "documents"),
        "doc_id", "text")),

    // Deterministic 80/10/10 train/val/test split: every training
    // pipeline's first branching step. Hash-interval assignment means a
    // doc's split never changes as the corpus grows.
    Q("q_mix_split", {
      val th = graft.api.Mixing.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val Seq(t1, t2) = th.init.map(_._2)
      Some(s"""SELECT lang,
                      CASE WHEN ${graft.api.Mixing.knuthHashSql("doc_id")} < $t1 THEN 'train'
                           WHEN ${graft.api.Mixing.knuthHashSql("doc_id")} < $t2 THEN 'val'
                           ELSE 'test' END AS split,
                      count(*) AS n
               FROM documents GROUP BY 1, 2 ORDER BY 1, 2""")
    },
      (s, dir) => graft.api.Mixing.assignSplit(t(s, dir, "documents"),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("lang", "split").agg(count(lit(1)).as("n"))
        .orderBy("lang", "split")),

    // Per-source corpus report — the "dataset card" audit every
    // curation round starts from: docs, whitespace tokens, char mass,
    // language spread, and how many of the source's docs sit in the
    // near-dup pair set. One corpus aggregation + a broadcast-sized
    // join against the distinct dup-doc ids (near-dup OUTPUT, not the
    // corpus); all-integer columns, so the hash match needs no decimal
    // machinery.
    Q("q_corpus_report",
      Some(s"""WITH $nearPairCtes,
           dup AS (SELECT DISTINCT doc_id FROM
                     (SELECT doc_a AS doc_id FROM prs
                      UNION ALL SELECT doc_b FROM prs)),
           base AS (SELECT source, count(*) AS n_docs,
                           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT) AS n_tokens,
                           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
                           count(DISTINCT lang) AS n_langs
                    FROM documents GROUP BY 1),
           dups AS (SELECT source AS dsource, count(*) AS n_dup_docs
                    FROM documents JOIN dup USING (doc_id) GROUP BY 1)
           SELECT base.source AS source, n_docs, n_tokens, sum_chars, n_langs,
                  COALESCE(n_dup_docs, 0) AS n_dup_docs
           FROM base LEFT JOIN dups ON dups.dsource = base.source
           ORDER BY base.source"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val pr = nearPairs(s, dir)
        val dup = pr.select(col("doc_a").as("doc_id"))
          .union(pr.select(col("doc_b").as("doc_id"))).distinct()
        val base = docs.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
        val dups = docs.join(dup, "doc_id").groupBy("source")
          .agg(count(lit(1)).as("n_dup_docs"))
        base.join(dups, Seq("source"), "left")
          .na.fill(0L, Seq("n_dup_docs"))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            col("sum_chars"), col("n_langs"), col("n_dup_docs"))
          .orderBy("source")
      }),

    // Train/test LEAKAGE audit: near-dup pairs whose members landed in
    // different splits under the row-level assignment — the
    // contamination q_mix_split_group's group-aware split exists to
    // prevent, quantified per split pair. Composes the shared pair set
    // with the replayable Knuth-hash assignment, so the oracle mirrors
    // both sides exactly.
    Q("q_split_leakage", {
      val th = graft.api.Mixing.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val Seq(t1, t2) = th.init.map(_._2)
      def splitCase(c: String) =
        s"""CASE WHEN ${graft.api.Mixing.knuthHashSql(c)} < $t1 THEN 'train'
                 WHEN ${graft.api.Mixing.knuthHashSql(c)} < $t2 THEN 'val'
                 ELSE 'test' END"""
      Some(s"""WITH $nearPairCtes,
           spl AS (SELECT ${splitCase("doc_a")} AS sa,
                          ${splitCase("doc_b")} AS sb
                   FROM prs)
           SELECT LEAST(sa, sb) AS split_a, GREATEST(sa, sb) AS split_b,
                  count(*) AS n_leaked
           FROM spl WHERE sa <> sb GROUP BY 1, 2 ORDER BY 1, 2""")
    },
      (s, dir) => graft.api.Mixing.splitLeakage(nearPairs(s, dir),
          graft.api.Mixing.assignSplit(t(s, dir, "documents"), "doc_id",
            Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)), "doc_id")
        .orderBy("split_a", "split_b")),

    // Leakage-safe GROUP-aware split: every doc of a source lands in
    // the same split (the near-dup/domain contamination guard row-level
    // splitting cannot give). The group key is an engine-replayable
    // polynomial char hash, so the oracle replays assignment exactly;
    // n_groups per (split, group) proves group atomicity.
    Q("q_mix_split_group", {
      val th = graft.api.Mixing.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      val Seq(t1, t2) = th.init.map(_._2)
      val h = graft.api.Mixing.knuthHashSql(
        graft.api.Mixing.polyHashSql("source"))
      Some(s"""SELECT split, count(*) AS n_docs,
                      count(DISTINCT source) AS n_groups
               FROM (SELECT source,
                            CASE WHEN $h < $t1 THEN 'train'
                                 WHEN $h < $t2 THEN 'val'
                                 ELSE 'test' END AS split
                     FROM documents)
               GROUP BY 1 ORDER BY 1""")
    },
      (s, dir) => graft.api.Mixing.groupAwareSplit(t(s, dir, "documents"),
          "source", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("source")).as("n_groups"))
        .orderBy("split")),

    // Temperature-scaled mixing (share_s ∝ count_s^0.5): the α-mix of
    // LLM data recipes — low-resource sources upsampled relative to the
    // crawl. Rates derive from the OBSERVED source counts driver-side
    // (bounded metadata); the oracle receives the identical thresholds
    // as dump-time literals.
    Q("q_mix_temperature",
      Some(s"""SELECT source, count(*) AS n
               FROM documents
               WHERE ${graft.api.Mixing.knuthHashSql("doc_id")} <
                 CASE source $tempPlaceholder ELSE 0 END
               GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        graft.api.Mixing.stratifiedSample(docs, "doc_id", "source",
            tempRates(s, dir)) // same rates the oracle's thresholds derive from
          .groupBy("source").agg(count(lit(1)).as("n")).orderBy("source")
      }),

    // Deterministic source mixing: per-language keep rates via the
    // Knuth hash against integer thresholds (computed driver-side so
    // both engines compare the same literals — a runtime double->long
    // cast rounds differently across engines). The mixture step of an
    // LLM pipeline: upsample curated sources, downsample the crawl.
    Q("q_mix_stratified", {
      val (te, td, tf0, td0) = (graft.api.Mixing.threshold(0.8),
        graft.api.Mixing.threshold(0.5), graft.api.Mixing.threshold(0.1),
        graft.api.Mixing.threshold(0.25))
      Some(s"""SELECT lang, count(*) AS n
               FROM documents
               WHERE ${graft.api.Mixing.knuthHashSql("doc_id")} <
                 CASE lang WHEN 'en' THEN $te WHEN 'de' THEN $td
                           WHEN 'es' THEN $td0 WHEN 'fr' THEN $tf0
                           ELSE 4294967296 END
               GROUP BY 1 ORDER BY 1""")
      },
      (s, dir) => graft.api.Mixing.stratifiedSample(t(s, dir, "documents"),
          "doc_id", "lang",
          Map("en" -> 0.8, "de" -> 0.5, "es" -> 0.25, "fr" -> 0.1),
          defaultRate = 1.0)
        .groupBy("lang").agg(count(lit(1)).as("n"))
        .orderBy("lang")),

    // Token-budget mixture: per-source deterministic downsample to a
    // token budget in Knuth-hash order — the "N tokens of source X"
    // recipe shape; exact integer window, identical doc set any engine
    Q("q_mix_token_budget",
      Some(s"""WITH r AS (SELECT source, n_chars,
                                 sum(n_chars) OVER (PARTITION BY source
                                   ORDER BY ${graft.api.Mixing.knuthHashSql("doc_id")},
                                            doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
                          FROM documents)
               SELECT source, count(*) AS n_docs,
                      CAST(sum(n_chars) AS BIGINT) AS n_tokens
               FROM r
               WHERE cum <= CASE source WHEN 'src0' THEN 50000
                                        WHEN 'src1' THEN 20000
                                        WHEN 'src2' THEN 100000
                                        ELSE 9223372036854775807 END
               GROUP BY source ORDER BY source"""),
      (s, dir) => graft.api.Mixing.tokenBudgetSample(t(s, dir, "documents"),
          "doc_id", "source", "n_chars",
          Map("src0" -> 50000L, "src1" -> 20000L, "src2" -> 100000L))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("n_tokens"))
        .orderBy("source")),

    // Gopher repetition battery (top-word fraction + duplicate-bigram
    // fraction): the standard degenerate-text cut-offs.
    Q("q_text_repetition",
      Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                   f AS (SELECT doc_id, w FROM d WHERE len(w) >= 2)
              SELECT doc_id,
                     ROUND(CAST(list_max([len(list_filter(w, x -> x = t))
                                          for t in list_distinct(w)]) AS DOUBLE)
                           / CAST(len(w) AS DOUBLE), 6) AS top_word_frac,
                     ROUND(1.0 - CAST(len(list_distinct([w[i] || ' ' || w[i+1]
                                                         for i in range(1, len(w))])) AS DOUBLE)
                           / CAST(len(w) - 1 AS DOUBLE), 6) AS dup_bigram_frac
              FROM f ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.repetitionStats(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id")),

    Q("q_text_entropy",
      Some("""WITH d AS (SELECT doc_id, string_split(text, '') AS cs, len(text) AS n
                         FROM documents)
              SELECT doc_id,
                     ROUND(-list_sum([p * ln(p) for p in
                       [CAST(len(list_filter(cs, x -> x = c)) AS DOUBLE) / n
                        for c in list_sort(list_distinct(cs))]]), 6) AS entropy
              FROM d ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.charEntropy(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id")),

    // Profile TRAINING for the lang-id stack: per-language top-5 char
    // bigrams — what q_lang_id_ngram's hand-written profiles stand in
    // for. Rank ties break by gram, so the ranking is engine-agnostic.
    Q("q_text_ngram_profile",
      Some("""WITH g AS (SELECT lang, unnest([substr(text, i, 2)
                                              for i in range(1, len(text))]) AS gram
                         FROM documents WHERE len(text) >= 2),
                   c AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
                   r AS (SELECT lang, gram, cnt, row_number() OVER (
                           PARTITION BY lang ORDER BY cnt DESC, gram) AS rnk
                         FROM c)
              SELECT lang, CAST(rnk AS BIGINT) AS rnk, gram, cnt
              FROM r WHERE rnk <= 5 ORDER BY lang, rnk"""),
      (s, dir) => TextAnalysis.ngramProfiles(t(s, dir, "documents"),
        "lang", "text").orderBy("lang", "rnk")),

    // Char-bigram profile lang-id (Cavnar–Trenkle-style): robust where
    // the keyword variant scores zero. Same argmax cascade as q_lang_id.
    Q("q_lang_id_ngram",
      Some("""WITH d AS (SELECT doc_id, lang,
                                list_distinct([substr(text, i, 2) for i in range(1, len(text))]) AS w
                         FROM documents),
                   sc AS (SELECT doc_id, lang,
                                 len(list_intersect(w, ['th','he','er','an','on'])) AS s_en,
                                 len(list_intersect(w, ['ch','ei','de','un','ge'])) AS s_de,
                                 len(list_intersect(w, ['os','la','el','ar','es'])) AS s_es,
                                 len(list_intersect(w, ['le','ou','es','en','re'])) AS s_fr,
                                 len(list_intersect(w, ['sh','zh','ng','ia','uo'])) AS s_zh
                          FROM d)
              SELECT doc_id, lang,
                     CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
                          WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
                          WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
                          WHEN s_fr >= s_zh THEN 'fr'
                          ELSE 'zh' END AS predicted
              FROM sc ORDER BY doc_id"""),
      (s, dir) => {
        val profiles = Seq(
          "en" -> Seq("th", "he", "er", "an", "on"),
          "de" -> Seq("ch", "ei", "de", "un", "ge"),
          "es" -> Seq("os", "la", "el", "ar", "es"),
          "fr" -> Seq("le", "ou", "es", "en", "re"),
          "zh" -> Seq("sh", "zh", "ng", "ia", "uo"))
        val docs = t(s, dir, "documents")
        TextAnalysis.langIdNgram(docs, "doc_id", "text", profiles)
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select("doc_id", "lang", "predicted")
          .orderBy("doc_id")
      }),

    // Winnowing (SIGMOD'03) fingerprints: window-min over rolling k-gram
    // hashes; single scan, no explode/shuffle on either engine.
    Q("q_fingerprint_winnow",
      Some("""WITH g AS (SELECT doc_id, [substr(text, i, 5) for i in range(1, len(text)-3)] AS grams
                         FROM documents WHERE len(text) >= 7),
                   h AS (SELECT doc_id, [list_reduce([ascii(substr(gr, j, 1)) for j in range(1, 6)],
                                          (acc, c) -> (acc * 31 + c) % 1000003) for gr in grams] AS hs
                         FROM g),
                   w AS (SELECT doc_id, [list_min(hs[i:i+2]) for i in range(1, len(hs)-1)] AS fps
                         FROM h)
              SELECT doc_id, CAST(len(list_distinct(fps)) AS BIGINT) AS n_fp,
                     CAST(list_min(fps) AS BIGINT) AS fp_min,
                     CAST(list_max(fps) AS BIGINT) AS fp_max
              FROM w ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.winnow(t(s, dir, "documents"),
        "doc_id", "text", k = 5, w = 3).orderBy("doc_id")),

    // PII masking pass (Dolma/C4 hygiene): email -> IPv4 -> phone in a
    // fixed order, counts + redacted text both hash-checked. The
    // patterns are RE2-safe character-class regexes shared verbatim
    // between engines (TextAnalysis.EmailRe/Ipv4Re/PhoneRe).
    Q("q_text_pii",
      Some(s"""WITH s1 AS (SELECT doc_id, text,
                       CAST(len(regexp_extract_all(text, '${TextAnalysis.EmailRe}')) AS BIGINT) AS n_emails,
                       regexp_replace(text, '${TextAnalysis.EmailRe}', '<EMAIL>', 'g') AS t1
                FROM documents),
               s2 AS (SELECT doc_id, n_emails,
                       CAST(len(regexp_extract_all(t1, '${TextAnalysis.Ipv4Re}')) AS BIGINT) AS n_ips,
                       regexp_replace(t1, '${TextAnalysis.Ipv4Re}', '<IP>', 'g') AS t2
                FROM s1)
               SELECT doc_id,
                      regexp_replace(t2, '${TextAnalysis.PhoneRe}', '<PHONE>', 'g') AS redacted,
                      n_emails, n_ips,
                      CAST(len(regexp_extract_all(t2, '${TextAnalysis.PhoneRe}')) AS BIGINT) AS n_phones
               FROM s2 ORDER BY doc_id"""),
      (s, dir) => TextAnalysis.redactPii(t(s, dir, "documents"),
        "doc_id", "text").orderBy("doc_id")),

    // The composed corpus pipeline (quality gate -> exact dedup ->
    // decontaminate -> pack): the operators are designed to chain, and
    // this query pins the whole chain against one oracle — the recipe a
    // real training-data run executes end-to-end.
    Q("q_pipeline_e2e",
      Some("""WITH RECURSIVE
               d0 AS (SELECT doc_id, text, lang, string_split(text, ' ') AS w FROM documents),
               q AS (SELECT doc_id FROM d0
                     WHERE len(w) BETWEEN 20 AND 90
                       AND CAST(len(list_filter(w, x -> list_contains(
                             ['the','a','of','and','to','in'], x))) AS DOUBLE)
                           / len(w) >= 0.05),
               ded AS (SELECT doc_id, lang, w FROM (
                         SELECT d0.doc_id, d0.lang, d0.w,
                                row_number() OVER (PARTITION BY sha256(d0.text)
                                  ORDER BY d0.doc_id) AS rn
                         FROM d0 JOIN q USING (doc_id))
                       WHERE rn = 1),
               sh AS (SELECT doc_id, list_distinct([array_to_string(w[i:i+3], ' ')
                                                    for i in range(1, len(w)-2)]) AS toks
                      FROM ded WHERE len(w) >= 4),
               exe AS (SELECT DISTINCT unnest(toks) AS tok FROM sh WHERE doc_id % 10 = 1),
               flag AS (SELECT DISTINCT c.doc_id
                        FROM (SELECT doc_id, unnest(toks) AS tok FROM sh
                              WHERE doc_id % 10 <> 1) c
                        JOIN exe USING (tok)),
               clean AS (SELECT ded.lang AS stratum, ded.doc_id,
                                CAST(len(ded.w) AS BIGINT) AS n_tokens
                         FROM ded
                         WHERE doc_id % 10 <> 1
                           AND doc_id NOT IN (SELECT doc_id FROM flag)),
               r AS MATERIALIZED (SELECT stratum, doc_id, n_tokens,
                            row_number() OVER (PARTITION BY stratum ORDER BY doc_id) AS rn
                     FROM clean),
               pack(stratum, rn, doc_id, n_tokens, bin, fill) AS (
                 SELECT stratum, rn, doc_id, n_tokens, CAST(0 AS BIGINT), n_tokens
                 FROM r WHERE rn = 1
                 UNION ALL
                 SELECT r.stratum, r.rn, r.doc_id, r.n_tokens,
                        CASE WHEN p.fill + r.n_tokens <= 200 THEN p.bin ELSE p.bin + 1 END,
                        CASE WHEN p.fill + r.n_tokens <= 200 THEN p.fill + r.n_tokens ELSE r.n_tokens END
                 FROM pack p JOIN r ON r.stratum = p.stratum AND r.rn = p.rn + 1)
              SELECT stratum, doc_id, n_tokens, CAST(bin AS BIGINT) AS bin
              FROM pack ORDER BY stratum, doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // fused single-scan quality gate (no score-frame self-join);
        // deduped feeds TWO consumers (the shingle semi-join and the
        // decontaminate/pack tail) — unpinned, the scan+gate+window
        // subtree runs twice (profiled: both its stages doubled)
        val deduped = graft.api.Pins.pin(Dedup.dropExactDuplicates(
          TextAnalysis.qualityFilter(docs, "text"), "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        // survivor shingles come from the cached corpus-wide frame (a
        // doc's shingle set is per-doc, so a semi-join restricts it)
        val sh = shingled(s, dir)
          .join(deduped.select("doc_id"), Seq("doc_id"), "left_semi")
        val clean = Decontamination.dropContaminated(
          deduped.filter(col("doc_id") % 10 =!= 1), "doc_id",
          sh.filter(col("doc_id") % 10 =!= 1),
          sh.filter(col("doc_id") % 10 === 1))
        Packing.packGreedy(
          clean.select(col("lang"), col("doc_id"),
            size(split(col("text"), " ")).cast("long").as("n_tokens")),
          "doc_id", "lang", "n_tokens", budget = 200L)
          .orderBy("stratum", "doc_id")
      }),

    // The span-first pipeline variant: cut duplicated spans BEFORE
    // doc-level dedup (production order — doc drops over-delete
    // template-heavy corpora), then exact-dedup the stitched remainder
    // and pack. One oracle pins the whole chain.
    Q("q_pipeline_e2e_span",
      Some("""WITH RECURSIVE
               d AS (SELECT doc_id, string_split(text, ' ') AS w
                     FROM documents),
               p AS (SELECT doc_id,
                            unnest(range(1, len(w) - 6)) AS i,
                            unnest(list_transform(range(1, len(w) - 6),
                              i -> array_to_string(w[i:i+7], ' '))) AS g
                     FROM d WHERE len(w) >= 8),
               shg AS (SELECT g FROM (
                         SELECT g, count(DISTINCT doc_id) AS df
                         FROM p GROUP BY g) WHERE df >= 2),
               sp AS (SELECT doc_id, i FROM p WHERE g IN (SELECT g FROM shg)),
               runs AS (SELECT doc_id, min(i) AS s, count(*) AS glen
                        FROM (SELECT doc_id, i,
                                     i - row_number() OVER (
                                       PARTITION BY doc_id ORDER BY i) AS isl
                              FROM sp)
                        GROUP BY doc_id, isl HAVING count(*) >= 3),
               occ AS (SELECT r.doc_id, r.s, r.s + r.glen + 6 AS e,
                              array_to_string(
                                d.w[r.s : r.s + r.glen + 6], ' ') AS span
                       FROM runs r JOIN d ON d.doc_id = r.doc_id),
               cuts AS (SELECT doc_id, s, e FROM (
                          SELECT occ.*, row_number() OVER (
                            PARTITION BY span ORDER BY doc_id, s) AS rn
                          FROM occ) WHERE rn > 1),
               rm AS (SELECT DISTINCT doc_id, j FROM (
                        SELECT doc_id, unnest(range(s, e + 1)) AS j
                        FROM cuts)),
               tok AS (SELECT doc_id, unnest(w) AS tk,
                              unnest(range(1, len(w) + 1)) AS j FROM d),
               kept AS (SELECT t.doc_id, t.tk, t.j
                        FROM tok t LEFT JOIN rm
                          ON rm.doc_id = t.doc_id AND rm.j = t.j
                        WHERE rm.j IS NULL),
               agg AS (SELECT doc_id, string_agg(tk, ' ' ORDER BY j) AS txt
                       FROM kept GROUP BY doc_id),
               cl AS (SELECT d.doc_id, COALESCE(a.txt, '') AS text_clean
                      FROM d LEFT JOIN agg a ON a.doc_id = d.doc_id),
               ded AS (SELECT doc_id FROM (
                         SELECT cl.doc_id, row_number() OVER (
                           PARTITION BY sha256(cl.text_clean)
                           ORDER BY cl.doc_id) AS rn
                         FROM cl) WHERE rn = 1),
               clean AS (SELECT doc.lang AS stratum, cl.doc_id,
                                CAST(len(string_split(cl.text_clean, ' '))
                                  AS BIGINT) AS n_tokens
                         FROM cl JOIN ded USING (doc_id)
                         JOIN documents doc ON doc.doc_id = cl.doc_id),
               r AS MATERIALIZED (SELECT stratum, doc_id, n_tokens,
                            row_number() OVER (PARTITION BY stratum
                              ORDER BY doc_id) AS rn
                     FROM clean),
               pack(stratum, rn, doc_id, n_tokens, bin, fill) AS (
                 SELECT stratum, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
                        n_tokens
                 FROM r WHERE rn = 1
                 UNION ALL
                 SELECT r.stratum, r.rn, r.doc_id, r.n_tokens,
                        CASE WHEN p.fill + r.n_tokens <= 200 THEN p.bin
                             ELSE p.bin + 1 END,
                        CASE WHEN p.fill + r.n_tokens <= 200
                             THEN p.fill + r.n_tokens ELSE r.n_tokens END
                 FROM pack p
                 JOIN r ON r.stratum = p.stratum AND r.rn = p.rn + 1)
              SELECT stratum, doc_id, n_tokens, CAST(bin AS BIGINT) AS bin
              FROM pack ORDER BY stratum, doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val ded = Dedup.dropExactDuplicates(
          spanCut(s, dir).join(docs.select("doc_id", "lang"), "doc_id"),
          "doc_id", "text_clean")
        Packing.packGreedy(
          ded.select(col("lang"), col("doc_id"),
            size(split(col("text_clean"), " ")).cast("long").as("n_tokens")),
          "doc_id", "lang", "n_tokens", budget = 200L)
          .orderBy("stratum", "doc_id")
      }),

    // The composed pipeline through THIS round's curation surfaces:
    // paragraph-level cut -> Gopher rule gate on the CUT text -> exact
    // dedup of gate survivors -> per-lang greedy pack. One oracle
    // replays all four stages.
    Q("q_pipeline_e2e_par",
      Some("""WITH RECURSIVE
               d AS (SELECT doc_id, string_split(text, ' ') AS w
                     FROM documents),
               sg AS (SELECT doc_id,
                             unnest(range(0, (len(w) + 14) // 15)) AS seg_idx,
                             unnest(list_transform(range(0, (len(w) + 14) // 15),
                               i -> array_to_string(w[i*15+1 : i*15+15], ' ')))
                               AS seg
                      FROM d),
               kp AS (SELECT doc_id, seg_idx, seg,
                             row_number() OVER (PARTITION BY seg
                               ORDER BY doc_id, seg_idx) AS rn
                      FROM sg),
               agg AS (SELECT doc_id,
                              string_agg(seg, ' ' ORDER BY seg_idx) AS txt
                       FROM kp WHERE rn = 1 GROUP BY doc_id),
               cl AS (SELECT d.doc_id, COALESCE(a.txt, '') AS text_clean
                      FROM d LEFT JOIN agg a USING (doc_id)),
               gw AS (SELECT doc_id, text_clean,
                             string_split(text_clean, ' ') AS w2 FROM cl),
               gm AS (SELECT doc_id, text_clean,
                             CAST(len(w2) AS BIGINT) AS n_words,
                             list_reduce(list_transform(w2,
                               x -> CAST(len(x) AS BIGINT)),
                               (a, b) -> a + b) AS wchars,
                             CAST(len(list_filter(w2, x ->
                               regexp_matches(x, '[A-Za-z]'))) AS BIGINT)
                               AS alphaw,
                             CAST(len(list_filter(
                               ['the','a','of','and','to','in'],
                               st -> list_contains(w2, st))) AS BIGINT) AS sh
                      FROM gw),
               gk AS (SELECT doc_id, text_clean FROM gm
                      WHERE n_words BETWEEN 30 AND 90
                        AND wchars * 1000000 // n_words
                            BETWEEN 4000000 AND 4750000
                        AND alphaw * 1000000 // n_words >= 800000
                        AND sh >= 2),
               ded AS (SELECT doc_id FROM (
                         SELECT doc_id, row_number() OVER (
                           PARTITION BY sha256(text_clean)
                           ORDER BY doc_id) AS rn
                         FROM gk) WHERE rn = 1),
               clean AS (SELECT doc.lang AS stratum, gk.doc_id,
                                CAST(len(string_split(gk.text_clean, ' '))
                                  AS BIGINT) AS n_tokens
                         FROM gk JOIN ded USING (doc_id)
                         JOIN documents doc ON doc.doc_id = gk.doc_id),
               r AS MATERIALIZED (SELECT stratum, doc_id, n_tokens,
                            row_number() OVER (PARTITION BY stratum
                              ORDER BY doc_id) AS rn
                     FROM clean),
               pack(stratum, rn, doc_id, n_tokens, bin, fill) AS (
                 SELECT stratum, rn, doc_id, n_tokens, CAST(0 AS BIGINT),
                        n_tokens
                 FROM r WHERE rn = 1
                 UNION ALL
                 SELECT r.stratum, r.rn, r.doc_id, r.n_tokens,
                        CASE WHEN p.fill + r.n_tokens <= 200 THEN p.bin
                             ELSE p.bin + 1 END,
                        CASE WHEN p.fill + r.n_tokens <= 200
                             THEN p.fill + r.n_tokens ELSE r.n_tokens END
                 FROM pack p
                 JOIN r ON r.stratum = p.stratum AND r.rn = p.rn + 1)
              SELECT stratum, doc_id, n_tokens, CAST(bin AS BIGINT) AS bin
              FROM pack ORDER BY stratum, doc_id"""),
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // cut feeds TWO consumers (the Gopher gate and the dedup/pack
        // tail) — unpinned, the whole keeper+join+stitch subtree runs
        // twice (profiled: every stage of it doubled)
        val cut = graft.api.Pins.pin(
          Dedup.dropDuplicateParagraphs(docs, "doc_id", "text",
            segTokens = 15)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
        val gated = TextAnalysis.gopherQualityFlags(
          cut.select(col("doc_id"), col("text_clean")), "doc_id",
          "text_clean", minWords = 30, maxWords = 90,
          minMeanWlenPpm = 4000000L, maxMeanWlenPpm = 4750000L,
          minAlphaPpm = 800000L, minStopHits = 2)
          .filter(col("keep")).select("doc_id")
        val ded = Dedup.dropExactDuplicates(
          cut.join(gated, "doc_id")
            .join(docs.select("doc_id", "lang"), "doc_id"),
          "doc_id", "text_clean")
        Packing.packGreedy(
          ded.select(col("lang"), col("doc_id"),
            size(split(col("text_clean"), " ")).cast("long").as("n_tokens")),
          "doc_id", "lang", "n_tokens", budget = 200L)
          .orderBy("stratum", "doc_id")
      }),

    Q("q_lang_id",
      Some("""WITH d AS (SELECT doc_id, lang, list_distinct(string_split(text, ' ')) AS w
                         FROM documents),
                   sc AS (SELECT doc_id, lang,
                                 len(list_intersect(w, ['the','a','of','and','to'])) AS s_en,
                                 len(list_intersect(w, ['der','die','das','und','ist'])) AS s_de,
                                 len(list_intersect(w, ['el','la','los','y','es'])) AS s_es,
                                 len(list_intersect(w, ['le','les','et','est','une'])) AS s_fr,
                                 len(list_intersect(w, ['shi','de','le_zh','bu','zai'])) AS s_zh
                          FROM d)
              SELECT doc_id, lang,
                     CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
                          WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
                          WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
                          WHEN s_fr >= s_zh THEN 'fr'
                          ELSE 'zh' END AS predicted
              FROM sc ORDER BY doc_id"""),
      (s, dir) => {
        val profiles = Seq(
          "en" -> Seq("the", "a", "of", "and", "to"),
          "de" -> Seq("der", "die", "das", "und", "ist"),
          "es" -> Seq("el", "la", "los", "y", "es"),
          "fr" -> Seq("le", "les", "et", "est", "une"),
          "zh" -> Seq("shi", "de", "le_zh", "bu", "zai"))
        val docs = t(s, dir, "documents")
        TextAnalysis.langId(docs, "doc_id", "text", profiles)
          .join(docs.select("doc_id", "lang"), "doc_id")
          .select("doc_id", "lang", "predicted")
          .orderBy("doc_id")
      })
  )
}
