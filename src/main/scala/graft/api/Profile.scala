package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.ExactDistinctAgg

/** Table profiling — the data-quality pass every lake runs on ingest:
  * one row per column with null count, exact distinct count, and
  * min/max rendered as strings (so heterogenous column types share one
  * output schema). The whole profile is ONE aggregation pass over the
  * table (all per-column aggregates fused into a single job — at
  * 100 TB the scan dominates, so one pass for 5 columns costs a fifth
  * of five single-column passes), unpivoted to rows afterwards.
  *
  * Exact distinct (not approx) keeps the result engine-replayable.
  * Integral, date and timestamp columns count it with
  * [[ExactDistinctAgg]], a Roaring bitmap per task: no row expansion,
  * and the shuffle carries one buffer per task, about 1 bit per
  * distinct value in a dense range and about 2 bytes per value when
  * sparse within a 2^16 block, all merged in the one final task. Every
  * other type keeps `countDistinct`, which shuffles each task's
  * distinct values.
  */
object Profile {

  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val types = df.select(cols.map(col): _*).schema.map(_.dataType)
    val aggs = cols.zip(types).flatMap { case (c, t) =>
      val distinct = if (ExactDistinctAgg.supports(t)) ExactDistinctAgg(col(c)) else countDistinct(col(c))
      Seq(count(lit(1)).minus(count(col(c))).cast("long").as(s"__nn_$c"),
        distinct.as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    }
    val one = df.agg(aggs.head, aggs.tail: _*)
    // unpivot: one struct per column, exploded to (column, ...) rows in
    // the caller's column order
    val rows = array(cols.map(c => struct(
      lit(c).as("column"),
      col(s"__nn_$c").as("n_nulls"),
      col(s"__nd_$c").as("n_distinct"),
      col(s"__mn_$c").as("min_str"),
      col(s"__mx_$c").as("max_str"))): _*)
    one.select(explode(rows).as("p")).select("p.*")
  }
}
