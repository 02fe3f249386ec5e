package graft.ops

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.ExactDistinctAgg
import graft.ops.H._

/** Core relational inventory: scans, filters, joins, aggregates, set ops,
  * subqueries, sort/limit/top-k (SURVEY.md §2B rows q_scan_* .. q_cte).
  *
  * Scale notes (100 TB thinking):
  *  - FIXED-cardinality dimensions (region=5, nation=25) are explicitly
  *    `broadcast()` so no shuffle of the fact side ever happens;
  *    SF-scaling dims (customer) stay unhinted — AQE broadcasts them
  *    while they fit and falls back to a shuffle join past the 8 GB
  *    broadcast limit, instead of a forced hint capping the query;
  *  - fact-fact self joins are equi-joins on the natural key with the range
  *    predicate as a residual filter (SMJ/shuffled-hash, never NL);
  *  - final `orderBy` exists only for the deterministic hash-compare; at
  *    production scale callers would drop it (it is the last operator, so
  *    removing it changes no upstream plan shape).
  */
object Relational {

  val qs: Seq[Q] = Seq(

    // NOTE: (l_orderkey, l_linenumber) is NOT unique in the synthetic data,
    // so every lineitem query orders by ALL output columns for a total order.
    Q("q_scan_project",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
              ORDER BY l_orderkey, l_linenumber, l_quantity"""),
      (s, dir) => t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")),

    Q("q_filter_pred",
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag
              FROM lineitem
              WHERE l_quantity > 30 AND l_discount BETWEEN 0.02 AND 0.08
                AND l_returnflag IN ('A','R') AND l_shipdate IS NOT NULL
              ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount, l_returnflag"""),
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        li.filter(li("l_quantity") > 30
            && li("l_discount").between(0.02, 0.08)
            && li("l_returnflag").isin("A", "R")
            && li("l_shipdate").isNotNull)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")
          .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag")
      }),

    Q("q_join_inner",
      Some("""SELECT o_orderkey, c_name, o_totalprice
              FROM orders JOIN customer ON o_custkey = c_custkey
              ORDER BY o_orderkey"""),
      (s, dir) => {
        val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
        // customer is the smaller side but SCALES WITH THE CORPUS
        // (SF-proportional), so it gets no broadcast hint: AQE
        // broadcasts it while it fits and falls back to a shuffle join
        // beyond the 8 GB broadcast limit — a forced hint would cap the
        // query. (Fixed-cardinality dims like nation/region keep
        // explicit hints elsewhere; see q_join_multiway.)
        o.join(c, o("o_custkey") === c("c_custkey"))
          .select("o_orderkey", "c_name", "o_totalprice")
          .orderBy("o_orderkey")
      }),

    Q("q_join_left",
      Some("""SELECT c_custkey, o_orderkey
              FROM customer LEFT JOIN orders
                ON o_custkey = c_custkey AND o_totalprice > 450000
              ORDER BY c_custkey, o_orderkey NULLS FIRST"""),
      (s, dir) => {
        val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
        c.join(o, o("o_custkey") === c("c_custkey") && o("o_totalprice") > 450000, "left")
          .select("c_custkey", "o_orderkey")
          .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
      }),

    Q("q_join_right",
      Some("""SELECT c_custkey, o_orderkey
              FROM orders RIGHT JOIN customer
                ON o_custkey = c_custkey AND o_totalprice > 450000
              ORDER BY c_custkey, o_orderkey NULLS FIRST"""),
      (s, dir) => {
        val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
        o.join(c, o("o_custkey") === c("c_custkey") && o("o_totalprice") > 450000, "right")
          .select("c_custkey", "o_orderkey")
          .orderBy(col("c_custkey"), col("o_orderkey").asc_nulls_first)
      }),

    Q("q_join_full",
      Some("""SELECT c_custkey, o_orderkey
              FROM (SELECT * FROM customer WHERE c_nationkey < 13) c
              FULL JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
                ON o.o_custkey = c.c_custkey
              ORDER BY c_custkey NULLS FIRST, o_orderkey NULLS FIRST"""),
      (s, dir) => {
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 400000)
        val c = t(s, dir, "customer").filter(col("c_nationkey") < 13)
        c.join(o, o("o_custkey") === c("c_custkey"), "full")
          .select("c_custkey", "o_orderkey")
          .orderBy(col("c_custkey").asc_nulls_first, col("o_orderkey").asc_nulls_first)
      }),

    Q("q_join_semi",
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey AND o_totalprice > 450000)
              ORDER BY c_custkey"""),
      (s, dir) => {
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
        val c = t(s, dir, "customer")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      }),

    Q("q_join_anti",
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE NOT EXISTS (SELECT 1 FROM orders
                                WHERE o_custkey = c_custkey AND o_totalprice > 450000)
              ORDER BY c_custkey"""),
      (s, dir) => {
        val o = t(s, dir, "orders").filter(col("o_totalprice") > 450000)
        val c = t(s, dir, "customer")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      }),

    Q("q_join_cross",
      Some("""SELECT r_name, n_name FROM region CROSS JOIN nation
              ORDER BY r_name, n_name"""),
      (s, dir) => t(s, dir, "region").crossJoin(t(s, dir, "nation"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name")),

    Q("q_join_theta",
      Some("""SELECT l1.l_returnflag AS l_returnflag, count(*) AS n_pairs
              FROM lineitem l1 JOIN lineitem l2
                ON l1.l_orderkey = l2.l_orderkey
               AND l1.l_linenumber < l2.l_linenumber
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        // Self equi-join on the order key with the `<` predicate as a
        // residual: stays a hash/SMJ join at any scale (never nested-loop).
        val a = t(s, dir, "lineitem").as("a")
        val b = t(s, dir, "lineitem").as("b")
        a.join(b, col("a.l_orderkey") === col("b.l_orderkey")
            && col("a.l_linenumber") < col("b.l_linenumber"))
          .groupBy(col("a.l_returnflag").as("l_returnflag"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("l_returnflag")
      }),

    Q("q_join_range",
      Some("""WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts FROM events)
              SELECT a.user_id AS user_id, count(*) AS n_pairs
              FROM e a JOIN e b
                ON a.user_id = b.user_id
               AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        // Banded range join: bucket ts into 5-minute blocks and equi-join
        // on (user_id, bucket) with the range as residual — candidates per
        // row stay O(events-per-10-min) instead of O(events-per-user),
        // which is what keeps this join feasible when one user has
        // millions of events. b ∈ (a.ts, a.ts+5min] ⇒ bucket(b) ∈
        // {bucket(a), bucket(a)+1}, so the probe side explodes 2 buckets.
        val e = t(s, dir, "events")
          .select(col("user_id"), col("ts"),
            floor(unix_micros(col("ts")) / lit(300000000L)).as("bucket"))
        val a = e.select(col("user_id"), col("ts").as("ts_a"),
          explode(array(col("bucket"), col("bucket") + 1)).as("jb"))
        val b = e.select(col("user_id"), col("ts").as("ts_b"), col("bucket").as("jb"))
        a.join(b, Seq("user_id", "jb"))
          .where(col("ts_b") > col("ts_a")
            && col("ts_b") <= col("ts_a") + expr("INTERVAL 5 MINUTE"))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      }),

    Q("q_join_multiway",
      Some(s"""SELECT r_name, n_name,
                      ${oSumProd("l_extendedprice", "1 - l_discount")} AS revenue,
                      count(*) AS n_items
               FROM region
               JOIN nation   ON n_regionkey = r_regionkey
               JOIN customer ON c_nationkey = n_nationkey
               JOIN orders   ON o_custkey   = c_custkey
               JOIN lineitem ON l_orderkey  = o_orderkey
               GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => {
        // 5-way star: tiny dims broadcast; the only shuffles are the two
        // fact-side equi-joins + final partial-aggregated rollup.
        // bounded: region/nation are FIXED cardinality (5/25 rows)
        val r = broadcast(t(s, dir, "region"))
        val n = broadcast(t(s, dir, "nation"))
        val c = t(s, dir, "customer")
        val o = t(s, dir, "orders")
        val li = t(s, dir, "lineitem")
        li.join(o, li("l_orderkey") === o("o_orderkey"))
          .join(c, o("o_custkey") === c("c_custkey"))
          .join(n, c("c_nationkey") === n("n_nationkey"))
          .join(r, n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            dsumd(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).as("revenue"),
            count(lit(1)).as("n_items"))
          .orderBy("r_name", "n_name")
      }),

    Q("q_agg_group",
      Some(s"""SELECT l_returnflag, l_linestatus,
                      ${oSum("l_quantity")} AS sum_qty,
                      ${oSum("l_extendedprice")} AS sum_base_price,
                      ${oSumProd("l_extendedprice", "1 - l_discount")} AS sum_disc_price,
                      ${oSumProd("l_extendedprice", "(1 - l_discount) * (1 + l_tax)")} AS sum_charge,
                      ${oAvg("l_quantity")} AS avg_qty,
                      ${oAvg("l_extendedprice")} AS avg_price,
                      ${oAvg("l_discount")} AS avg_disc,
                      count(*) AS count_order
               FROM lineitem
               WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
               GROUP BY 1, 2 ORDER BY 1, 2"""),
      (s, dir) => q1(s, dir)),

    Q("q_agg_global",
      Some(s"""SELECT count(*) AS n_rows,
                      count(DISTINCT l_orderkey) AS n_orders,
                      ${oSum("l_quantity")} AS sum_qty,
                      ROUND(MIN(l_extendedprice), 4) AS min_price,
                      ROUND(MAX(l_extendedprice), 4) AS max_price
               FROM lineitem"""),
      (s, dir) => t(s, dir, "lineitem").agg(
        count(lit(1)).as("n_rows"),
        ExactDistinctAgg(col("l_orderkey")).as("n_orders"),
        dsum(col("l_quantity")).as("sum_qty"),
        round(min(col("l_extendedprice")), 4).as("min_price"),
        round(max(col("l_extendedprice")), 4).as("max_price"))),

    Q("q_agg_distinct",
      Some("""SELECT l_returnflag,
                     count(DISTINCT l_partkey) AS nd_parts,
                     count(DISTINCT l_suppkey) AS nd_supps
              FROM lineitem GROUP BY 1 ORDER BY 1"""),
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          ExactDistinctAgg(col("l_partkey")).as("nd_parts"),
          ExactDistinctAgg(col("l_suppkey")).as("nd_supps"))
        .orderBy("l_returnflag")),

    Q("q_agg_minmax_stats",
      Some("""SELECT c_mktsegment,
                     ROUND(MIN(c_acctbal), 4) AS min_bal,
                     ROUND(MAX(c_acctbal), 4) AS max_bal,
                     ROUND(STDDEV_SAMP(c_acctbal), 2) AS sd_bal,
                     ROUND(VAR_SAMP(c_acctbal), 2) AS var_bal
              FROM customer GROUP BY 1 ORDER BY 1"""),
      (s, dir) => t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(
          round(min(col("c_acctbal")), 4).as("min_bal"),
          round(max(col("c_acctbal")), 4).as("max_bal"),
          round(stddev_samp(col("c_acctbal")), 2).as("sd_bal"),
          round(var_samp(col("c_acctbal")), 2).as("var_bal"))
        .orderBy("c_mktsegment")),

    Q("q_agg_rollup",
      Some(s"""SELECT n_name, c_mktsegment, count(*) AS n,
                      ${oSum("c_acctbal")} AS bal
               FROM customer JOIN nation ON n_nationkey = c_nationkey
               GROUP BY ROLLUP(n_name, c_mktsegment)
               ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST"""),
      (s, dir) => {
        // Dataset.rollup on a freshly-joined frame trips Spark's ambiguous
        // self-join detector (dataset-id metadata quirk); the SQL form is
        // the same logical plan without the metadata.
        t(s, dir, "customer").createOrReplaceTempView("customer")
        t(s, dir, "nation").createOrReplaceTempView("nation")
        s.sql(s"""SELECT n_name, c_mktsegment, count(*) AS n,
                         ${oSum("c_acctbal")} AS bal
                  FROM customer JOIN nation ON n_nationkey = c_nationkey
                  GROUP BY ROLLUP(n_name, c_mktsegment)
                  ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""")
      }),

    Q("q_agg_cube",
      Some(s"""SELECT n_name, c_mktsegment, count(*) AS n,
                      ${oSum("c_acctbal")} AS bal
               FROM customer JOIN nation ON n_nationkey = c_nationkey
               GROUP BY CUBE(n_name, c_mktsegment)
               ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST"""),
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("customer")
        t(s, dir, "nation").createOrReplaceTempView("nation")
        s.sql(s"""SELECT n_name, c_mktsegment, count(*) AS n,
                         ${oSum("c_acctbal")} AS bal
                  FROM customer JOIN nation ON n_nationkey = c_nationkey
                  GROUP BY CUBE(n_name, c_mktsegment)
                  ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""")
      }),

    Q("q_agg_gsets",
      Some(s"""SELECT n_name, c_mktsegment, count(*) AS n,
                      ${oSum("c_acctbal")} AS bal
               FROM customer JOIN nation ON n_nationkey = c_nationkey
               GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
               ORDER BY n_name NULLS FIRST, c_mktsegment NULLS FIRST"""),
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("customer")
        t(s, dir, "nation").createOrReplaceTempView("nation")
        s.sql(s"""SELECT n_name, c_mktsegment, count(*) AS n,
                         ${oSum("c_acctbal")} AS bal
                  FROM customer JOIN nation ON n_nationkey = c_nationkey
                  GROUP BY GROUPING SETS ((n_name), (c_mktsegment), ())
                  ORDER BY n_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST""")
      }),

    Q("q_agg_having",
      Some(s"""SELECT * FROM (
                 SELECT c_mktsegment, count(*) AS n, ${oAvg("c_acctbal")} AS avg_bal
                 FROM customer GROUP BY 1
               ) WHERE avg_bal > 4000 AND n > 3 ORDER BY c_mktsegment"""),
      (s, dir) => t(s, dir, "customer")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"), davg(col("c_acctbal")).as("avg_bal"))
        .filter(col("avg_bal") > 4000 && col("n") > 3)
        .orderBy("c_mktsegment")),

    Q("q_agg_collect",
      // Array serialized to CSV so the driver's pandas-based compare (which
      // sorts by every column) can hash it; the list semantics are identical.
      Some("""SELECT c_custkey, string_agg(o_orderkey, ',' ORDER BY o_orderkey) AS orderkeys
              FROM customer JOIN orders ON o_custkey = c_custkey
              GROUP BY 1 ORDER BY 1"""),
      (s, dir) => t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey")
        .agg(array_join(sort_array(collect_list(col("o_orderkey"))).cast("array<string>"), ",")
          .as("orderkeys"))
        .orderBy("c_custkey")),

    Q("q_distinct",
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
              ORDER BY 1, 2"""),
      (s, dir) => t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus")),

    Q("q_dropdup_keys",
      Some("""WITH e AS (SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts
                         FROM events),
                   r AS (SELECT *, row_number() OVER (
                           PARTITION BY user_id, event_type
                           ORDER BY ts DESC, event_id DESC) AS rn FROM e)
              SELECT user_id, event_type, event_id, ts FROM r WHERE rn = 1
              ORDER BY user_id, event_type"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        // Deterministic keyed dedup (latest event wins, event_id tiebreak) —
        // unlike dropDuplicates, which keeps an arbitrary row.
        val w = Window.partitionBy("user_id", "event_type")
          .orderBy(col("ts").desc, col("event_id").desc)
        t(s, dir, "events")
          .select("user_id", "event_type", "event_id", "ts")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1).drop("rn")
          .orderBy("user_id", "event_type")
      }),

    Q("q_sort_multi",
      Some("""SELECT c_custkey, NULLIF(c_mktsegment, 'BUILDING') AS seg, c_acctbal
              FROM customer
              ORDER BY seg ASC NULLS FIRST, c_acctbal DESC NULLS LAST, c_custkey"""),
      (s, dir) => t(s, dir, "customer")
        .select(col("c_custkey"),
          nullif(col("c_mktsegment"), lit("BUILDING")).as("seg"),
          col("c_acctbal"))
        .orderBy(col("seg").asc_nulls_first, col("c_acctbal").desc_nulls_last,
          col("c_custkey"))),

    Q("q_limit_topk",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC NULLS LAST, o_orderkey LIMIT 10"""),
      (s, dir) => t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        // orderBy+limit compiles to TakeOrderedAndProject: per-partition
        // top-k then a k-row merge on the driver — no global sort at scale.
        .orderBy(col("o_totalprice").desc_nulls_last, col("o_orderkey"))
        .limit(10)),

    Q("q_topk_pergroup",
      Some("""WITH r AS (SELECT p_brand, p_partkey, p_retailprice, row_number() OVER (
                           PARTITION BY p_brand
                           ORDER BY p_retailprice DESC, p_partkey) AS rn
                         FROM part)
              SELECT p_brand, p_partkey, p_retailprice FROM r WHERE rn <= 3
              ORDER BY p_brand, p_retailprice DESC, p_partkey"""),
      (s, dir) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("p_brand")
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
        t(s, dir, "part")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("p_brand", "p_partkey", "p_retailprice")
          .orderBy(col("p_brand"), col("p_retailprice").desc, col("p_partkey"))
      }),

    Q("q_set_unionall",
      Some("""SELECT c_nationkey AS nk, 'c' AS side FROM customer
              UNION ALL
              SELECT s_nationkey AS nk, 's' AS side FROM supplier
              ORDER BY nk, side"""),
      (s, dir) => t(s, dir, "customer")
        .select(col("c_nationkey").as("nk"), lit("c").as("side"))
        .unionAll(t(s, dir, "supplier")
          .select(col("s_nationkey").as("nk"), lit("s").as("side")))
        .orderBy("nk", "side")),

    Q("q_set_union",
      Some("""SELECT c_nationkey AS nk FROM customer
              UNION SELECT s_nationkey AS nk FROM supplier ORDER BY nk"""),
      (s, dir) => t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .union(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .distinct()
        .orderBy("nk")),

    Q("q_set_intersect",
      Some("""SELECT c_nationkey AS nk FROM customer
              INTERSECT SELECT s_nationkey AS nk FROM supplier ORDER BY nk"""),
      (s, dir) => t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    Q("q_set_except",
      Some("""SELECT c_nationkey AS nk FROM customer
              EXCEPT SELECT s_nationkey AS nk FROM supplier ORDER BY nk"""),
      (s, dir) => t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .except(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    // Correlated LATERAL subquery (top-1-per-group as the optimizer
    // sees it): both engines decorrelate into a ranked join rather than
    // a per-row re-execution.
    Q("q_lateral",
      Some("""SELECT c_custkey, o_orderkey, o_totalprice
              FROM customer,
                   LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                            WHERE o_custkey = c_custkey
                            ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
              ORDER BY c_custkey"""),
      (s, dir) => {
        t(s, dir, "customer").createOrReplaceTempView("customer")
        t(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""SELECT c_custkey, o_orderkey, o_totalprice
                 FROM customer,
                      LATERAL (SELECT o_orderkey, o_totalprice FROM orders
                               WHERE o_custkey = c_custkey
                               ORDER BY o_totalprice DESC, o_orderkey LIMIT 1) t
                 ORDER BY c_custkey""")
      }),

    // GROUP BY ALL: group keys inferred from the non-aggregate output
    // columns — identical inference rules in both engines.
    Q("q_group_by_all",
      Some(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
                      ${oSum("l_quantity")} AS qty
               FROM lineitem GROUP BY ALL ORDER BY 1, 2"""),
      (s, dir) => {
        t(s, dir, "lineitem").createOrReplaceTempView("lineitem")
        s.sql(s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
                         ${oSum("l_quantity")} AS qty
                  FROM lineitem GROUP BY ALL ORDER BY 1, 2""")
      }),

    // Multiset (ALL) set-op variants: duplicate counts preserved, so
    // the result hash differs from the distinct forms above whenever a
    // nationkey repeats on both sides.
    Q("q_set_intersect_all",
      Some("""SELECT c_nationkey AS nk FROM customer
              INTERSECT ALL SELECT s_nationkey AS nk FROM supplier
              ORDER BY nk"""),
      (s, dir) => t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .intersectAll(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    Q("q_set_except_all",
      Some("""SELECT c_nationkey AS nk FROM customer
              EXCEPT ALL SELECT s_nationkey AS nk FROM supplier
              ORDER BY nk"""),
      (s, dir) => t(s, dir, "customer").select(col("c_nationkey").as("nk"))
        .exceptAll(t(s, dir, "supplier").select(col("s_nationkey").as("nk")))
        .orderBy("nk")),

    // Keyset-free paging: total order + LIMIT/OFFSET (Spark plans the
    // offset into the take, not a full materialization).
    Q("q_limit_offset",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 10"""),
      (s, dir) => t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .offset(10).limit(10)),

    Q("q_subq_scalar",
      Some("""SELECT o_orderkey, o_totalprice FROM orders
              WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
              ORDER BY o_orderkey"""),
      (s, dir) => {
        val o = t(s, dir, "orders")
        // Scalar subquery as a broadcast single-row cross join: the fact
        // side streams once, no driver round-trip, no shuffle.
        val avgP = o.agg(avg(col("o_totalprice")).as("avg_price"))
        o.crossJoin(broadcast(avgP)) // bounded: 1-row aggregate
          .filter(col("o_totalprice") > col("avg_price"))
          .select("o_orderkey", "o_totalprice")
          .orderBy("o_orderkey")
      }),

    Q("q_subq_in",
      Some("""SELECT c_custkey, c_name FROM customer
              WHERE c_nationkey IN (
                SELECT n_nationkey FROM nation
                WHERE n_regionkey IN (SELECT r_regionkey FROM region WHERE r_name = 'ASIA'))
              ORDER BY c_custkey"""),
      (s, dir) => {
        val asiaNations = t(s, dir, "nation")
          // bounded: region/nation are FIXED cardinality (5/25 rows)
          .join(broadcast(t(s, dir, "region").filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"), "left_semi")
        t(s, dir, "customer")
          .join(broadcast(asiaNations), col("c_nationkey") === col("n_nationkey"),
            "left_semi")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      }),

    Q("q_cte",
      Some("""WITH rev AS (SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS r
                           FROM orders GROUP BY 1)
              SELECT o_custkey, ROUND(CAST(r AS DOUBLE), 4) AS revenue
              FROM rev WHERE r > (SELECT AVG(r) FROM rev)
              ORDER BY o_custkey"""),
      (s, dir) => {
        t(s, dir, "orders").createOrReplaceTempView("orders")
        s.sql("""WITH rev AS (SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS r
                              FROM orders GROUP BY 1)
                 SELECT o_custkey, ROUND(CAST(r AS DOUBLE), 4) AS revenue
                 FROM rev WHERE r > (SELECT AVG(r) FROM rev)
                 ORDER BY o_custkey""")
      })
  )

  /** TPC-H Q1 shape — also the flagship `SparkEntry.entry` query. */
  def q1(s: SparkSession, dir: String) = {
    val li = t(s, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsumd(dec(col("l_extendedprice")) * dec(lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsumd(dec(col("l_extendedprice")) * dec((lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        davg(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }
}
