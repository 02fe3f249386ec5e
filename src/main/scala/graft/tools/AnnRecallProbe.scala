package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** ANN recall harness on CLUSTERED vectors — a deterministic mixture of
  * Gaussians, the geometry real embedding corpora actually have (the
  * planted/isotropic sets used by the correctness pins are the
  * worst case for LSH: at dim 32+, isotropic neighbors sit at nearly
  * uniform angles, so recall there is noise-bound by construction and
  * says nothing about production behavior). Reports recall@10 vs the
  * exact scan for IVF (by nProbe), sign-LSH (by bits), and Hamming-1
  * multi-probe LSH, averaged over query points drawn from distinct
  * clusters.
  *
  * Determinism: every "random" quantity (cluster centers, Box-Muller
  * noise, hyperplanes) derives from xxhash64 — reruns reproduce the
  * table bit-for-bit.
  *
  * Recall FLOORS are pinned per geometry for the three methods a user
  * would actually deploy (IVF nProbe=8, IVF-PQ + exact rerank@100,
  * Hamming-1 multi-probe LSH bits=8), a few points under the measured
  * values (round-11 run: ivf 1.000/1.000/0.996, rerank
  * 0.696/0.754/0.492, mp-lsh 0.888/0.467/0.213). A regression below a
  * floor makes the probe EXIT NONZERO — recall changes are loud, not
  * informational.
  * Usage: AnnRecallProbe [nVectors] [dim] [nClusters]
  */
object AnnRecallProbe {

  /** (geometry label, method) -> minimum acceptable recall@10 at the
    * default 50k×32×64 shape. Only asserted at that default shape —
    * custom CLI shapes print the table without floors.
    */
  val RecallFloors: Map[(String, String), Double] = Map(
    ("clustered(sigma=0.15)", "ivf_nprobe8")    -> 0.99,
    ("clustered(sigma=0.15)", "pq_rerank100")   -> 0.64,
    ("clustered(sigma=0.15)", "mp_lsh_bits8")   -> 0.80,
    ("overlapping(sigma=0.5)", "ivf_nprobe8")   -> 0.99,
    ("overlapping(sigma=0.5)", "pq_rerank100")  -> 0.70,
    ("overlapping(sigma=0.5)", "mp_lsh_bits8")  -> 0.40,
    ("isotropic(sigma=10)", "ivf_nprobe8")      -> 0.97,
    ("isotropic(sigma=10)", "pq_rerank100")     -> 0.45,
    ("isotropic(sigma=10)", "mp_lsh_bits8")     -> 0.15)

  def main(args: Array[String]): Unit = {
    val n = args.lift(0).map(_.toInt).getOrElse(50000)
    val dim = args.lift(1).map(_.toInt).getOrElse(32)
    val nClusters = args.lift(2).map(_.toInt).getOrElse(64)
    val k = 10
    val nQueries = 24
    val defaultShape = n == 50000 && dim == 32 && nClusters == 64
    val measured = scala.collection.mutable.Buffer.empty[(String, String, Double)]
    val spark = graft.SparkConfig.builder("graft-annrecall",
      graft.SparkConfig.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import graft.api.Similarity

    // x[id][d] = center[id % nClusters][d] + sigma * N(0,1), with the
    // center uniform in [-1, 1] and the noise via Box-Muller over two
    // hash-uniforms — all deterministic in (id, d)
    def mixture(sigma: Double): DataFrame = spark.range(n.toLong)
      .select(col("id").as("vec_id"), expr(
        s"""transform(sequence(0, ${dim - 1}), d ->
              (pmod(xxhash64(id % $nClusters, d, 0), 2001) - 1000) / 1000.0
              + $sigma * sqrt(-2.0 * ln(
                  (pmod(xxhash64(id, d, 1), 1000000) + 1) / 1000001.0))
                * cos(2.0 * pi() * pmod(xxhash64(id, d, 2), 1000000) / 1000000.0)
           )""").as("embedding"))

    def recallOf(got: DataFrame, exact: Set[Long]): Int =
      got.select("vec_id").collect().map(_.getLong(0)).count(exact)

    for ((label, vecs0) <- Seq(
        "clustered(sigma=0.15)" -> mixture(0.15),
        "overlapping(sigma=0.5)" -> mixture(0.5),
        "isotropic(sigma=10)" -> mixture(10.0))) {
      val vecs = vecs0.persist()
      vecs.count()
      val queries = (0 until nQueries).map(_.toLong)
      val exact: Map[Long, Set[Long]] = queries.map { q =>
        q -> Similarity.topK(vecs, "vec_id", "embedding", q, k)
          .select("vec_id").collect().map(_.getLong(0)).toSet
      }.toMap

      val cents = Similarity.kmeansCentroids(vecs, "vec_id", "embedding",
          k = nClusters, iters = 2)
        .select(col("cent_id").as("vec_id"), col("cv").as("embedding"))
      val index = Similarity.ivfIndex(vecs, cents, "vec_id", "embedding")
        .persist()
      index.count()
      val centsPrep = cents
        .select(col("vec_id").as("cent_id"), col("embedding").as("cv"))

      println(s"== $label  n=$n dim=$dim clusters=$nClusters " +
        s"queries=$nQueries (recall@$k vs exact scan) ==")
      for (nProbe <- Seq(1, 2, 4, 8)) {
        val t0 = System.nanoTime()
        val r = queries.map { q =>
          recallOf(Similarity.ivfSearch(index, centsPrep, q, k, nProbe),
            exact(q))
        }.sum.toDouble / (nQueries * k)
        if (nProbe == 8) measured += ((label, "ivf_nprobe8", r))
        println(f"  ivf nProbe=$nProbe%-2d            recall=${r}%5.3f  " +
          f"(${(System.nanoTime() - t0) / 1e9 / nQueries}%5.2f s/query)")
      }
      // IVF-PQ (residual/IVFADC): same coarse cells, candidates ranked
      // on cell-centroid + m-subspace residual reconstructions
      // (dim/8-code rows) instead of raw vectors; plus the FAISS-style
      // exact re-rank of the ADC top-100
      val pqB = Similarity.pqCodebooks(vecs, cents, "vec_id", "embedding",
        m = dim / 8, ksub = 16, iters = 2)
      val pqIdx = Similarity.pqIndex(vecs, cents, "vec_id", "embedding", pqB)
        .persist()
      pqIdx.count()
      for (nProbe <- Seq(4, 8)) {
        val t0 = System.nanoTime()
        val r = queries.map { q =>
          recallOf(Similarity.pqSearch(pqIdx, vecs, cents,
            "vec_id", "embedding", pqB, q, k, nProbe), exact(q))
        }.sum.toDouble / (nQueries * k)
        println(f"  ivf-pq m=${dim / 8} nProbe=$nProbe%-2d     recall=${r}%5.3f  " +
          f"(${(System.nanoTime() - t0) / 1e9 / nQueries}%5.2f s/query)")
      }
      locally {
        val t0 = System.nanoTime()
        val r = queries.map { q =>
          recallOf(Similarity.pqTopKRerank(pqIdx, vecs, cents,
            "vec_id", "embedding", pqB, q, k, nProbe = 8, rerank = 100),
            exact(q))
        }.sum.toDouble / (nQueries * k)
        measured += ((label, "pq_rerank100", r))
        println(f"  ivf-pq rerank@100 nProbe=8 recall=${r}%5.3f  " +
          f"(${(System.nanoTime() - t0) / 1e9 / nQueries}%5.2f s/query)")
      }
      pqIdx.unpersist()
      for (bits <- Seq(6, 8, 10)) {
        val t0 = System.nanoTime()
        val r = queries.map { q =>
          recallOf(Similarity.lshTopK(vecs, "vec_id", "embedding", q, k, bits),
            exact(q))
        }.sum.toDouble / (nQueries * k)
        println(f"  lsh bits=$bits%-2d              recall=${r}%5.3f  " +
          f"(${(System.nanoTime() - t0) / 1e9 / nQueries}%5.2f s/query)")
      }
      for (bits <- Seq(8, 10)) {
        val t0 = System.nanoTime()
        val r = queries.map { q =>
          recallOf(Similarity.lshTopKMultiProbe(vecs, "vec_id", "embedding",
            q, k, bits), exact(q))
        }.sum.toDouble / (nQueries * k)
        if (bits == 8) measured += ((label, "mp_lsh_bits8", r))
        println(f"  multi-probe lsh bits=$bits%-2d  recall=${r}%5.3f  " +
          f"(${(System.nanoTime() - t0) / 1e9 / nQueries}%5.2f s/query)")
      }
      index.unpersist(); vecs.unpersist()
    }
    spark.stop()
    if (defaultShape) {
      val breaches = measured.flatMap { case (geom, method, r) =>
        RecallFloors.get((geom, method)).filter(r < _)
          .map(floor => f"$geom/$method: recall $r%5.3f < floor $floor%5.3f")
      }
      if (breaches.nonEmpty) {
        breaches.foreach(b => System.err.println(s"RECALL FLOOR BREACH: $b"))
        sys.exit(1)
      }
      println(s"all ${measured.size} pinned recalls at or above their floors")
    }
  }
}
