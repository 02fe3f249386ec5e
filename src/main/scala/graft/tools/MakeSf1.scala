package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Materialize a ~10x replica of an sf dir (sf0.1 -> "sf1") for the
  * whole-suite scale shakeout: every FACT table is unioned `mult` times
  * with per-replica key offsets so join cardinalities and group sizes
  * scale the way real data growth does (each replica's orders join its
  * own lineitem/customer; no cross-replica key collisions), while the
  * fixed-cardinality DIMENSIONS (region, nation) stay 1x — exactly the
  * shape a 10x bigger TPC-H-ish corpus would have. Document text gets
  * the ScaleProbe word-suffix transform (replica vocabularies are
  * bijective renamings, pairwise disjoint in shingle space) so the
  * near-dup/BPE/text operators see real corpus growth, not mult
  * exact copies of every document (which would explode pair counts
  * combinatorially and measure a replication artifact instead).
  *
  * Usage: MakeSf1 <srcDir> [dstDir] [mult]   (defaults /tmp/graft_sf1,
  * x10). Output tables are parquet DIRECTORIES named
  * `<table>.parquet` — the same names the bench resolves.
  */
object MakeSf1 {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args.lift(1).getOrElse("/tmp/graft_sf1")
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.SparkConfig.builder("graft-makesf1",
      graft.SparkConfig.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val OFF = 100000000L // disjoint key spaces per replica
    def reps(m: Int) = spark.range(m).select(col("id").as("rep"))

    /** Union `mult` replicas with the named long keys offset per replica. */
    def replicate(df: DataFrame, keys: Seq[String]): DataFrame = {
      val crossed = df.crossJoin(reps(mult))
      keys.foldLeft(crossed) { case (d, k) =>
        d.withColumn(k, col(k) + col("rep") * OFF)
      }.drop("rep")
    }

    def write(name: String, df: DataFrame): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    def t(n: String) = spark.read.parquet(s"$src/$n.parquet")

    // dimensions stay 1x (fixed cardinality is the point of a dim)
    write("region", t("region"))
    write("nation", t("nation"))

    write("customer", replicate(t("customer"), Seq("c_custkey")))
    write("supplier", replicate(t("supplier"), Seq("s_suppkey")))
    write("part", replicate(t("part"), Seq("p_partkey")))
    write("orders", replicate(t("orders"), Seq("o_orderkey", "o_custkey")))
    write("lineitem", replicate(t("lineitem"),
      Seq("l_orderkey", "l_partkey", "l_suppkey")))
    write("events", replicate(t("events"), Seq("user_id")))

    // documents: id offset + per-replica word renaming (see scaladoc);
    // n_chars is RECOMPUTED from the transformed text — the suffix
    // lengthens every token, so carrying the source column through
    // would leave every replica's n_chars silently inconsistent with
    // its text (quality thresholds, chars-per-token ratios, corpus
    // report masses would all compute on stale values)
    write("documents", t("documents").crossJoin(reps(mult))
      .select((col("doc_id") + col("rep") * OFF).as("doc_id"),
        expr("array_join(transform(split(text, ' '), " +
          "w -> concat(w, 'zz', CAST(rep AS STRING))), ' ')").as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))

    // embeddings: id offset; vectors replicate as-is (ANN/quantization
    // scans are linear in vector count either way)
    write("embeddings", replicate(t("embeddings"), Seq("vec_id")))

    spark.stop()
  }
}
