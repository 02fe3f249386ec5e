package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph analytics over an edge list — the web-graph side of a
  * training-data curation pipeline (host-level PageRank / harmonic-style
  * centrality is a standard crawl-quality prior: pages from
  * high-centrality hosts survive filtering, spam hosts drop out). The
  * reference has no graph surface — its users would export to a graph
  * tool; here the iteration is plain declarative Spark so it runs where
  * the data already lives.
  *
  * Determinism shape: PageRank is usually computed in floating point,
  * which is NOT reproducible across engines or partitionings (fp
  * addition is order-sensitive, and a 1000-executor sum order is
  * whatever the shuffle delivers). This implementation runs entirely in
  * FIXED-POINT BIGINT "micro-rank" units: ranks start at `unitMicro`
  * (1e6), each contribution is an integer floor-division
  * `rank div out_degree`, and the damped update is
  * `((dampDen-dampNum)*unitMicro) div dampDen + (dampNum*sum) div dampDen`
  * — every operation is integer arithmetic, so the result is
  * bit-identical on any engine, any cluster size, any shuffle order,
  * and a DuckDB oracle can replay it exactly. Truncation error is
  * ≤ out_degree micro-units per node per iteration — irrelevant for
  * ranking, decisive for reproducibility.
  *
  * Dangling nodes (no out-edges — every sink in a bipartite
  * customer→supplier graph) simply do not contribute; their mass is not
  * redistributed. That is a documented semantic choice (the classic
  * "PageRank on the web graph" redistribution exists to make the chain
  * ergodic, which a fixed-iteration ranking does not need) and both
  * sides of the oracle implement the same choice.
  *
  * Scale shape: per iteration, one hash join ranks⋈edges on `src` and
  * one aggregation by `dst` — the canonical Pregel-free formulation.
  * Edges carry their out-degree denormalized (one column) so the
  * iteration needs NO second join against a degree table. For a handful
  * of iterations the lineage stays a single declarative plan (identical
  * edge-scan subtrees collapse into ReusedExchange); deep iteration
  * counts cut lineage automatically every `checkpointEvery` rounds
  * (bit-identical — the update is integer arithmetic), so rounds are
  * bounded by patience, not plan growth. Sums of micro-ranks fit
  * BIGINT up to ~9e12 nodes at unitMicro=1e6.
  */
object Graphs {

  /** Deduplicated directed edges with denormalized out-degree, from any
    * (src, dst) long-keyed frame. One shuffle for the distinct, one for
    * the degree window — done once, reused every iteration.
    */
  def edgesWithOutDegree(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    e.groupBy("src").agg(count(lit(1)).as("deg"))
      .join(e, "src")
      .select("src", "dst", "deg")
  }

  /** Node set of an edge frame (sources ∪ sinks). */
  def nodes(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("id"))
      .union(edges.select(col(dstCol).cast("long").as("id")))
      .where(col("id").isNotNull)
      .distinct()

  /** Fixed-point PageRank. `edgesDeg` must carry (src, dst, deg) as
    * produced by [[edgesWithOutDegree]]; `nodeIds` one `id` per node.
    * Returns (id BIGINT, rank_micro BIGINT) — rank in micro-units,
    * bit-exact on any engine (see object scaladoc).
    */
  def pageRankFixedPoint(
      edgesDeg: DataFrame,
      nodeIds: DataFrame,
      iterations: Int,
      dampNum: Long = 85L,
      dampDen: Long = 100L,
      unitMicro: Long = 1000000L,
      checkpointEvery: Int = 10): DataFrame = {
    require(iterations >= 1, s"iterations must be >= 1, got $iterations")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    require(dampNum > 0 && dampNum < dampDen, s"need 0 < dampNum < dampDen, got $dampNum/$dampDen")
    val base = ((dampDen - dampNum) * unitMicro) / dampDen
    // every iteration re-reads BOTH frames; unpinned they re-scan (and
    // re-derive) per round — iterations x 2 extra source passes
    val edgesP = Pins.pin(edgesDeg
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val nodesP = Pins.pin(nodeIds
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    var ranks = nodesP.select(col("id"), lit(unitMicro).as("r"))
    // Deep iteration counts are LINEAGE-bounded, not data-bounded: each
    // round nests the previous plan, and past a few dozen rounds
    // analysis/codegen time dominates (and eventually overflows). Ranks
    // localCheckpoint every `checkpointEvery` rounds — the integer
    // update makes the result bit-identical with or without the cut —
    // and the superseded checkpoint's blocks are released as soon as
    // the next one has materialized from them (the duplicateClusters
    // discipline), so a 100-round run pins O(1) intermediate copies.
    var prevCk: Option[DataFrame] = None
    for (i <- 1 to iterations) {
      val contrib = edgesP
        .join(ranks, edgesP("src") === ranks("id"))
        .groupBy(edgesP("dst").as("id"))
        .agg(sum(expr("r div deg")).as("contrib"))
      // Pure-integer damped update: `div` is BIGINT floor division in
      // Spark SQL (both operands positive here, so floor == trunc ==
      // DuckDB's `//`). Never `/` — that is double division and the
      // whole point is zero fp ops.
      ranks = nodesP
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          expr(s"CAST($base + ($dampNum * coalesce(contrib, CAST(0 AS BIGINT))) div $dampDen AS BIGINT)")
            .as("r"))
      if (i % checkpointEvery == 0 && i < iterations) {
        val ck = ranks.localCheckpoint() // eager: blocks exist before the drop
        prevCk.foreach(Dedup.dropLocalCheckpoint)
        prevCk = Some(ck)
        ranks = ck
      }
    }
    ranks.select(col("id"), col("r").as("rank_micro"))
  }

  /** Connected components of an undirected graph (edge direction is
    * ignored): every node labeled with its component's minimum node id.
    * Output: (node BIGINT, component BIGINT).
    *
    * Delegates to the duplicate-cluster machinery
    * ([[Dedup.duplicateClusters]]) — min-label propagation rounds plus
    * alternating large/small-star rounds to a VERIFIED fixpoint, the
    * Kiveris et al. "Connected Components in MapReduce and Beyond"
    * shape: O(log d) shuffle rounds, never a transitive-closure
    * materialization (closure is |C|² rows per component — the thing
    * that does not exist at 100 TB). The label choice (component
    * minimum) is deterministic, so an oracle can replay the semantics
    * by any other exact method (e.g. a recursive label closure at test
    * scale) and hash-match.
    */
  def connectedComponents(edges: DataFrame, srcCol: String,
                          dstCol: String,
                          localFinishEdges: Long = 500000L): DataFrame = {
    // validate BEFORE the long cast below would null non-numeric ids
    // (duplicateClusters re-checks, but by then the cast already
    // laundered the type and the error would name the wrong columns)
    Seq(srcCol, dstCol).foreach { c =>
      val dt = edges.schema(c).dataType
      require(Seq(org.apache.spark.sql.types.LongType,
          org.apache.spark.sql.types.IntegerType,
          org.apache.spark.sql.types.ShortType,
          org.apache.spark.sql.types.ByteType).contains(dt),
        s"connectedComponents node column '$c' must be an integral " +
          s"type, got ${dt.simpleString} — map string ids to a stable " +
          "surrogate (e.g. xxhash64) first")
    }
    Dedup.duplicateClusters(edges.select(
        col(srcCol).cast("long").as("doc_a"),
        col(dstCol).cast("long").as("doc_b")),
        localFinishEdges = localFinishEdges)
      .select(col("doc_id").as("node"), col("cluster").as("component"))
  }

  /** Triangle count of an UNDIRECTED graph (direction and self-loops
    * ignored): one row (n_triangles, tri_mass) where tri_mass is the
    * BIGINT sum of each triangle's three vertex ids — a second exact
    * invariant so an oracle hash breaks on any miscounted OR
    * misidentified triangle, not just a lucky-equal count.
    *
    * Scale shape: the compact-forward / degree-ordering algorithm
    * (Schank-Wagner; the published MapReduce formulation is Suri &
    * Vassilvitskii's "Counting Triangles and the Curse of the Last
    * Reducer"). Every edge is oriented from its lower to its higher
    * endpoint in the (degree, id) total order, which turns the graph
    * into a DAG whose max out-degree is O(√m); wedges are then a
    * self-join of oriented edges on their source — Σ outdeg², the
    * term the orientation provably minimizes against the curse-of-the-
    * last-reducer hub blowup (a plain a<b<c id-ordered join puts every
    * hub's full neighborhood in one reducer) — and a triangle is a
    * wedge whose far endpoints are themselves an oriented edge (one
    * more equi-join). Three shuffles total, all on edge keys, no row
    * ever wider than (u, w, two degrees).
    */
  def triangleCount(edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    // und feeds the degree count (both unions) AND the orientation join
    // AND the closing-edge probe — unpinned, the dedup exchange reruns
    // per consumer
    val und = Pins.pin(edges
      .select(least(col(srcCol), col(dstCol)).cast("long").as("a"),
        greatest(col(srcCol), col(dstCol)).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val deg = und.select(col("a").as("v"))
      .union(und.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // orient low→high in the (degree, id) total order
    val oriented = und
      .join(deg.select(col("v").as("a"), col("d").as("da")), "a")
      .join(deg.select(col("v").as("b"), col("d").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("w"),
            col("da").as("du"), col("db").as("dw")))
          .otherwise(struct(col("b").as("u"), col("a").as("w"),
            col("db").as("du"), col("da").as("dw")))
          .as("e"))
      .select(col("e.u").as("u"), col("e.w").as("w"),
        col("e.du").as("du"), col("e.dw").as("dw"))
    // oriented feeds both wedge sides and the closing-edge probe (3
    // consumers) — pin so the degree joins run once
    val orientedP = Pins.pin(oriented
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val o1 = orientedP.select(col("u"), col("w").as("w1"),
      col("dw").as("dw1"))
    val o2 = orientedP.select(col("u"), col("w").as("w2"),
      col("dw").as("dw2"))
    // wedge (w1, w2) anchored at u, far pair kept in orientation order
    // so the closing edge — if present — is exactly oriented (w1, w2)
    val wedges = o1.join(o2, "u")
      .where(col("dw1") < col("dw2") ||
        (col("dw1") === col("dw2") && col("w1") < col("w2")))
      .select(col("u"), col("w1"), col("w2"))
    wedges
      .join(orientedP.select(col("u").as("w1"), col("w").as("w2")),
        Seq("w1", "w2"))
      .agg(count(lit(1)).as("n_triangles"),
        coalesce(sum(col("u") + col("w1") + col("w2")), lit(0L))
          .cast("long").as("tri_mass"))
  }

  /** Breadth-first minimum distance from a SET of source nodes over an
    * undirected view of the edge list, bounded at `maxDepth` rounds.
    * Output: (id BIGINT, lvl BIGINT), one row per node reached within
    * the bound — unreached nodes are absent, sources are lvl 0.
    *
    * Scale shape: frontier expansion — each round joins ONLY the
    * newly-discovered frontier against the edge list (one hash join +
    * distinct + anti-join against the settled set), so total work is
    * O(edges touched × rounds), never frontier × whole-history; levels
    * are minimal by construction (a node is settled the first round it
    * appears, and never revisited). Lineage is cut automatically every
    * `checkpointEvery` rounds (see the loop note), so depth is bounded
    * by the graph, not by plan growth.
    */
  /** Frontier-rows ceiling for the per-round broadcast hint: 1M ids ≈
    * 8 MB framed — well under every broadcast cap, and past it the
    * round falls back to a co-shuffled join, which is the right plan
    * for a frontier that large anyway.
    */
  private val BroadcastFrontierRows = 1000000L

  def bfsLevels(edges: DataFrame, srcCol: String, dstCol: String,
                sources: DataFrame, maxDepth: Int,
                checkpointEvery: Int = 10): DataFrame = {
    require(maxDepth >= 0, s"maxDepth must be >= 0, got $maxDepth")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val e = edges
      .select(col(srcCol).cast("long").as("x"), col(dstCol).cast("long").as("y"))
      .where(col("x").isNotNull && col("y").isNotNull)
    // every BFS round joins the frontier against und — unpinned, each
    // round re-scans the edges. The materialized per-round frontier
    // below carries exact (small) statistics, so the planner broadcasts
    // IT and streams this cache in place — und never moves after
    // materialization. NO dedup here (guide §2.4 — a distinct on data
    // that is already unique): duplicate und rows cannot change the
    // result (each round's neighbor set is distinct-ed anyway, and
    // levels are minimal by settled-set construction), so the union
    // caches map-only, without paying a full-edge-set exchange + hash
    // aggregation up front. Inputs with HEAVY edge duplication instead
    // pay the duplicates once per round inside the frontier join —
    // dedup such feeds before calling if rounds are deep.
    val und = Pins.pin(
      e.union(e.select(col("y").as("x"), col("x").as("y")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // SHALLOW-UNROLL (one lazy plan for maxDepth <= 3: per-round
    // distinct frontiers, no anti-join, min(lvl) per node) was measured
    // in round 22 and REJECTED: without per-round materialization the
    // per-copy filter pushdown (isnotnull variants) de-canonicalizes
    // the repeated frontier subtrees, so ReuseExchange never fires —
    // f1/f2 execute twice — and rounds 2-3 plan ShuffledHashJoin that
    // re-exchanges the FULL und cache per round (no frontier stats at
    // planning; localCheckpoint-free frontiers are shuffle outputs,
    // but the duplicated subtrees dominate). Traced warm at sf0.1
    // local[32]: loop 1.45 s / 22 jobs vs unroll 2.66 s / 18 jobs —
    // the saved driver actions do not pay for the re-execution.
    // Pregel-superstep materialization: every round's NEW frontier is
    // eagerly localCheckpoint'ed. The previous action-free-between-
    // checkpoints loop nested each round's plan into the next TWICE
    // (once as the frontier, once inside the settled anti-join), so by
    // round d the physical plan held ~2^d copies of round 1's subtree
    // — profiled at depth 3 as twelve full re-reads (and four full
    // re-exchanges) of the edge set in ONE query. A frontier is the
    // small per-round delta; materializing it costs one frontier-sized
    // job per round, keeps the per-round plan flat (und appears once),
    // gives the planner EXACT frontier statistics (so it broadcasts
    // the frontier and streams the pinned edge cache in place), and
    // lets an exhausted traversal exit the round it empties instead of
    // at the next cadence point.
    // lazy checkpoint: the count() below is the materializing action,
    // so seed materialization and the exhaustion/broadcast-size count
    // are ONE job instead of two (the CC discipline) — per-round jobs
    // are driver round-trips the loaded suite pays under contention
    val src0 = sources.select(col("id").cast("long").as("id"),
      lit(0L).as("lvl")).distinct().localCheckpoint(eager = false)
    // settled = union of materialized level parts (each a checkpoint
    // leaf — linear plan growth, zero recompute); every
    // `checkpointEvery` rounds the union collapses into one checkpoint
    // and the folded-in leaves' blocks are released (the pageRank
    // discipline), so pinned copies stay O(1) + the live frontier.
    var settled: DataFrame = src0
    var live: List[DataFrame] = List(src0)
    var frontier =
      if (src0.count() <= BroadcastFrontierRows) broadcast(src0.select("id"))
      else src0.select("id")
    var d = 1
    var exhausted = false
    while (d <= maxDepth && !exhausted) {
      val next = und.join(frontier, und("x") === frontier("id"))
        .select(und("y").as("id")).distinct()
        .join(settled, Seq("id"), "left_anti")
        .select(col("id"), lit(d.toLong).as("lvl"))
        .localCheckpoint(eager = false)
      // count() MATERIALIZES the lazy checkpoint (one job per round,
      // not checkpoint + count) and tells us BOTH exhaustion and
      // whether the next round's frontier fits a broadcast — a
      // checkpointed frame carries no usable size stats, so without
      // the hint the planner shuffle-joins and the FULL edge cache
      // pays an exchange per round (profiled: 10 MB re-exchanges on
      // frontier rounds of a few hundred KB)
      val n = next.count()
      exhausted = n == 0
      if (exhausted) {
        // the empty frontier's blocks serve nothing downstream
        Dedup.dropLocalCheckpoint(next)
      } else {
        settled = settled.unionByName(next)
        live ::= next
        frontier =
          if (n <= BroadcastFrontierRows) broadcast(next.select("id"))
          else next.select("id")
        if (d % checkpointEvery == 0 && d < maxDepth) {
          val sCk = settled.localCheckpoint()
          // all folded-in leaves except the live frontier are dead
          live.tail.foreach(Dedup.dropLocalCheckpoint)
          live = List(sCk, next)
          settled = sCk
        }
      }
      d += 1
    }
    settled
  }

  /** Degree profile: histogram of out- and in-degrees — the one-line
    * health check of any crawl/link graph (a spam burst shows up as a
    * fat head, a broken extractor as a missing tail). Output:
    * (side 'out'|'in', deg BIGINT, n_nodes BIGINT).
    */
  /** `assumeDistinct = true` skips the edge dedup for inputs the CALLER
    * guarantees are already (src, dst)-unique (e.g. a materialized
    * `SELECT DISTINCT` edge table) — guide §2.4, a distinct on data
    * that is already unique is a full exchange + hash aggregation of
    * the edge set for nothing. Degrees are WRONG if the guarantee is
    * violated; default stays safe.
    */
  def degreeProfile(edges: DataFrame, srcCol: String, dstCol: String,
                    assumeDistinct: Boolean = false): DataFrame = {
    // e feeds the out- AND in-degree aggregations — pin so the dedup
    // exchange (or the scan) runs once, not per side
    val base = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val e = Pins.pin((if (assumeDistinct) base else base.distinct())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val out = e.groupBy("src").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .select(lit("out").as("side"), col("deg"), col("n_nodes"))
    val in = e.groupBy("dst").agg(count(lit(1)).as("deg"))
      .groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .select(lit("in").as("side"), col("deg"), col("n_nodes"))
    out.unionByName(in)
  }
}
