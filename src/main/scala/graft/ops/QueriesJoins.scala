package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Join surface (SURVEY.md §2B "Joins"): all SQLite-reachable join
  * shapes re-expressed with the Dataset join API so Catalyst picks the
  * physical strategy (broadcast-hash for the dimension sides here;
  * sort-merge on the fact⋈fact shapes at scale; AQE re-plans at
  * runtime).
  *
  * Scale notes: `customer`/`supplier`/`nation`/`region` are dimensions —
  * explicitly `broadcast()` where the optimizer's size estimate might
  * not see it (e.g. after a filter). The theta join is bounded
  * (dim × dim) — a fact-side theta join would need a range-bucketing
  * rewrite instead of broadcast-nested-loop.
  */
object QueriesJoins {
  type Q = (SparkSession, String) => DataFrame
  private def t(n: String)(s: SparkSession, d: String) = Tables.t(s, d, n)

  val queries: Map[String, Q] = Map(
    "join_inner" -> ((s, d) => {
      val o = t("orders")(s, d); val c = t("customer")(s, d)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "inner")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy("c_mktsegment")
    }),

    "join_left" -> ((s, d) => {
      val c = t("customer")(s, d); val o = t("orders")(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    "join_right" -> ((s, d) => {
      val o = t("orders")(s, d); val c = t("customer")(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"), "right_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),

    "join_full" -> ((s, d) => {
      // aggregate per nation on both sides, restricted to disjoint-ish
      // key ranges so FULL OUTER actually produces null sides
      val c = t("customer")(s, d).filter(col("c_nationkey") < 15)
        .groupBy(col("c_nationkey")).agg(count(lit(1)).as("n_cust"))
      val su = t("supplier")(s, d).filter(col("s_nationkey") >= 10)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("n_supp"))
      c.join(su, c("c_nationkey") === su("s_nationkey"), "full_outer")
        .select(col("c_nationkey"), col("n_cust"), col("s_nationkey"), col("n_supp"))
        .orderBy(asc_nulls_first("c_nationkey"), asc_nulls_first("s_nationkey"))
    }),

    "join_cross" -> ((s, d) =>
      t("region")(s, d).crossJoin(t("nation")(s, d))
        .select("r_regionkey", "r_name", "n_nationkey", "n_name")
        .orderBy("r_regionkey", "n_nationkey")),

    "join_theta" -> ((s, d) => {
      // non-equi predicate join (dim × dim, broadcast-nested-loop);
      // at fact scale this shape needs banding/bucketing instead
      val su = t("supplier")(s, d); val c = t("customer")(s, d)
      su.join(broadcast(c),
          su("s_nationkey") === c("c_nationkey") &&
            su("s_acctbal") < c("c_acctbal"))
        .groupBy(col("s_suppkey"))
        .agg(count(lit(1)).as("n_richer_cust"))
        .orderBy("s_suppkey")
    }),

    "join_semi" -> ((s, d) => {
      val c = t("customer")(s, d)
      val big = t("orders")(s, d).filter(col("o_totalprice") > 30000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "join_anti" -> ((s, d) => {
      // customers with no high-value order (non-empty at every sf)
      val c = t("customer")(s, d)
      val big = t("orders")(s, d).filter(col("o_totalprice") > 450000)
      c.join(big, c("c_custkey") === big("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    "join_self" -> ((s, d) => {
      // same-nation customer pairs, bounded to keep output small
      val base = t("customer")(s, d).filter(col("c_custkey") <= 100)
      val a = base.as("a"); val b = base.as("b")
      a.join(b, col("a.c_nationkey") === col("b.c_nationkey") &&
          col("a.c_custkey") < col("b.c_custkey"))
        .select(col("a.c_custkey").as("k1"), col("b.c_custkey").as("k2"),
          col("a.c_nationkey").as("nk"))
        .orderBy("k1", "k2")
    }),

    // AS-OF join: each probe matched to the latest state update at or
    // before its timestamp (per key) — the canonical time-series
    // enrichment. Spark has no native ASOF, and the equi+range join
    // formulation materializes O(|L_k|·|R_k|) pairs per key before
    // picking the latest. This composes it from existing ops instead:
    // UNION both sides with a tag, ONE window pass in (ts, tag) order
    // carries the last state forward (`last(_, ignoreNulls)` — LOCF),
    // and probes read it. One hash shuffle total, no join node in the
    // plan at all (asserted in PlanAuditProbe), linear in |L|+|R|.
    // RANGE join (pairs within a time bound) — the naive theta join
    // `b.ts > a.ts AND b.ts <= a.ts + 5min` plans as a nested-loop
    // over each user's events. Bucketize instead: floor both sides to
    // range-width buckets, expand each PROBE to its own + the next
    // bucket (bounded 2× — any in-range match must land there), join
    // on (user, bucket) EQUALITY, then apply the exact predicate.
    // Shuffle-equi-join shape, no nested loop (plan-audited); each
    // true pair matches exactly once (the partner's bucket is unique).
    // Bucket arithmetic goes through cast(ts_ntz AS timestamp), which
    // is timezone-sensitive: bucket ADJACENCY relies on the session
    // timezone having a constant UTC offset across the data range —
    // guaranteed here because every entry point (mains and specs) is
    // built by GraftSession.create, which pins
    // spark.sql.session.timeZone=UTC. A DST-shifted session would need
    // the bucket derived from the NTZ value itself.
    "join_range" -> ((s, d) => {
      val ev = t("events")(s, d)
        .withColumn("bkt", expr("floor(unix_micros(cast(ts as timestamp)) / 300000000)"))
      val probes = ev.select(col("user_id"), col("event_id").as("id1"),
          col("ts").as("ts1"), explode(array(col("bkt"), col("bkt") + 1)).as("bkt"))
      val cands = ev.select(col("user_id"), col("event_id").as("id2"),
        col("ts").as("ts2"), col("bkt"))
      probes.join(cands, Seq("user_id", "bkt"))
        .filter(col("ts2") > col("ts1") &&
          col("ts2") <= col("ts1") + expr("INTERVAL 5 MINUTES"))
        .select(col("user_id"), col("id1"), col("id2"))
        .orderBy("user_id", "id1", "id2")
    }),

    // Ties are resolved INSIDE the window sort instead of by a
    // pre-aggregation (which would cost a second shuffle): updates at
    // the same (user, ts) sort ascending by value, so LOCF's "last"
    // equals MAX(value) at the tie — matching the oracle's collapsed
    // right side. Ties between a probe and an update at the SAME ts
    // sort the update first (tag 0 < 1), matching ASOF's inclusive
    // `l.ts >= r.ts`.
    "join_asof" -> ((s, d) => {
      val ev = t("events")(s, d)
      val stateT = "struct<asof_ts:timestamp_ntz,asof_value:double>"
      val updates = ev
        .select(col("user_id"), col("ts"),
          struct(col("ts").as("asof_ts"), col("value").as("asof_value")).as("_r"),
          lit(null).cast("bigint").as("event_id"), lit(0).as("_tag"))
      val probes = ev.filter(col("event_id") % 5 === 0)
        .select(col("user_id"), col("ts"),
          lit(null).cast(stateT).as("_r"), col("event_id"), lit(1).as("_tag"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts"), col("_tag"), col("_r.asof_value"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      updates.unionAll(probes)
        .withColumn("_state", last(col("_r"), ignoreNulls = true).over(w))
        .filter(col("_tag") === 1 && col("_state").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts").as("l_ts"),
          col("_state.asof_ts").as("asof_ts"),
          col("_state.asof_value").as("asof_value"))
        .orderBy("event_id")
    }),

    // FORWARD as-of: each probe takes the EARLIEST update at-or-after
    // its timestamp (the "next known state" enrichment — lead-time
    // joins, next-price lookups). Same single-shuffle union+window
    // composition as join_asof, mirrored: frame [current row,
    // unbounded following] with first_value. Tie discipline inverted —
    // probes (tag 0) sort BEFORE same-ts updates (tag 1) so the
    // inclusive `l.ts <= r.ts` match stays in frame; same-(user, ts)
    // updates order by value so `first` deterministically takes the
    // minimum, matching the oracle's MIN(value) collapse.
    "join_asof_fwd" -> ((s, d) => {
      val ev = t("events")(s, d)
      val stateT = "struct<asof_ts:timestamp_ntz,asof_value:double>"
      val updates = ev
        .select(col("user_id"), col("ts"),
          struct(col("ts").as("asof_ts"), col("value").as("asof_value")).as("_r"),
          lit(null).cast("bigint").as("event_id"), lit(1).as("_tag"))
      val probes = ev.filter(col("event_id") % 5 === 0)
        .select(col("user_id"), col("ts"),
          lit(null).cast(stateT).as("_r"), col("event_id"), lit(0).as("_tag"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id")
        .orderBy(col("ts"), col("_tag"), col("_r.asof_value"))
        .rowsBetween(0, org.apache.spark.sql.expressions.Window.unboundedFollowing)
      updates.unionAll(probes)
        .withColumn("_state", first(col("_r"), ignoreNulls = true).over(w))
        .filter(col("_tag") === 0 && col("_state").isNotNull)
        .select(col("event_id"), col("user_id"), col("ts").as("l_ts"),
          col("_state.asof_ts").as("asof_ts"),
          col("_state.asof_value").as("asof_value"))
        .orderBy("event_id")
    }),
  )

  val oracle: Map[String, String] = Map(
    "join_inner" ->
      """SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_orders,
         ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS revenue
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_mktsegment ASC NULLS FIRST""",
    "join_left" ->
      """SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         GROUP BY 1 ORDER BY c_custkey""",
    "join_right" ->
      """SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
         FROM orders RIGHT JOIN customer ON o_custkey = c_custkey
         GROUP BY 1 ORDER BY c_custkey""",
    "join_full" ->
      """SELECT c_nationkey, n_cust, s_nationkey, n_supp FROM
         (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_cust
            FROM customer WHERE c_nationkey < 15 GROUP BY 1) c
         FULL JOIN
         (SELECT s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_supp
            FROM supplier WHERE s_nationkey >= 10 GROUP BY 1) s
         ON c_nationkey = s_nationkey
         ORDER BY c_nationkey ASC NULLS FIRST, s_nationkey ASC NULLS FIRST""",
    "join_cross" ->
      """SELECT r_regionkey, r_name, n_nationkey, n_name
         FROM region CROSS JOIN nation ORDER BY r_regionkey, n_nationkey""",
    "join_theta" ->
      """SELECT s_suppkey, CAST(COUNT(*) AS BIGINT) AS n_richer_cust
         FROM supplier JOIN customer
           ON s_nationkey = c_nationkey AND s_acctbal < c_acctbal
         GROUP BY 1 ORDER BY s_suppkey""",
    "join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 30000)
         ORDER BY c_custkey""",
    "join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_totalprice > 450000)
         ORDER BY c_custkey""",
    "join_self" ->
      """SELECT a.c_custkey AS k1, b.c_custkey AS k2, a.c_nationkey AS nk
         FROM customer a JOIN customer b
           ON a.c_nationkey = b.c_nationkey AND a.c_custkey < b.c_custkey
         WHERE a.c_custkey <= 100 AND b.c_custkey <= 100
         ORDER BY k1, k2""",
    "join_range" ->
      """SELECT a.user_id AS user_id, a.event_id AS id1, b.event_id AS id2
         FROM events a JOIN events b ON a.user_id = b.user_id
           AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 5 MINUTE
         ORDER BY a.user_id, id1, id2""",
    "join_asof" ->
      """WITH r AS (SELECT user_id, ts, MAX(value) AS asof_value
                    FROM events GROUP BY 1, 2),
            l AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_id % 5 = 0)
         SELECT l.event_id, l.user_id, l.ts AS l_ts,
                r.ts AS asof_ts, r.asof_value
         FROM l ASOF JOIN r
           ON l.user_id = r.user_id AND l.ts >= r.ts
         ORDER BY event_id""",
    "join_asof_fwd" ->
      """WITH r AS (SELECT user_id, ts, MIN(value) AS asof_value
                    FROM events GROUP BY 1, 2),
            l AS (SELECT event_id, user_id, ts FROM events
                  WHERE event_id % 5 = 0)
         SELECT l.event_id, l.user_id, l.ts AS l_ts,
                r.ts AS asof_ts, r.asof_value
         FROM l ASOF JOIN r
           ON l.user_id = r.user_id AND l.ts <= r.ts
         ORDER BY event_id""",
  )
}
