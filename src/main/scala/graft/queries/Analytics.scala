package graft.queries

import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._

/** Multi-join analytics queries (TPC-H Q3/Q5/Q10 shapes, adapted to the
  * driver corpus's column subset). These exercise the join *planning* the
  * single-hop j-queries can't: 3–6 way joins where Catalyst must pick
  * broadcast vs shuffle per edge and order the tree.
  *
  * Scale notes (100 TB): broadcast hints appear ONLY on tables whose size
  * does not grow with the scale factor (region: 5 rows, nation: 25, scalar
  * aggregates). customer/supplier are SF-proportional (10⁸–10⁹ rows at
  * 100 TB), so they carry NO hint — a hint would override the 10 MB
  * threshold and OOM the driver at scale. Below the threshold Catalyst
  * broadcasts them automatically (PlanSpec pins this at test SFs); above
  * it they degrade gracefully to a shuffle join on the already-shuffled
  * orders⋈lineitem keys, and AQE's runtime join-strategy switch restores
  * the broadcast whenever post-filter stats shrink under the threshold.
  * The lone unavoidable large-large shuffle is orders⋈lineitem on
  * orderkey; AQE coalesces its partitions and splits skew. Top-k never sorts globally —
  * `orderBy(...).limit(k)` plans as TakeOrderedAndProject (per-partition
  * heap + driver merge of k rows).
  *
  * Revenue sums go through Relational.dsum (decimal-exact, order-free) so
  * map-side partial aggregation stays bit-identical to the DuckDB oracle at
  * any parallelism.
  */
object Analytics {

  import Relational.dsum

  /** The HLL set-algebra gate body, parameterized by the register count
    * — ONE definition serves the m = 1024 gate (Long-numerator path) and
    * its m = 2^14 twin (the r16 wide-integer path), so the algebra is
    * pinned on BOTH estimate pipelines. */
  private def hllUnionDef(name: String,
      P0: graft.ext.Hll.Params): QueryDef =
      QueryDef(
        name,
        (s, d) => {
          import s.implicits._
          val P = P0
          val ev = Tables.events(s, d).select($"user_id")
          def cohort(tag: String, cond: org.apache.spark.sql.Column) =
            graft.ext.Hll.cells(
              ev.filter(cond).select(lit(tag).as("w_start"), $"user_id"),
              $"user_id", P)
          val ca = cohort("A", $"user_id" % 2 === 0)
          val cb = cohort("B", $"user_id" % 3 === 0)
          val cu = ca.unionByName(cb)
            .groupBy(lit("U").as("w_start"), $"bucket")
            .agg(max($"rho").as("rho"))
          val est = graft.ext.Hll.estimate(
              ca.unionByName(cb).unionByName(cu), P)
            .select($"w_start", $"hll_est")
          val piv = est.agg(
            max(when($"w_start" === "A", $"hll_est")).as("est_a"),
            max(when($"w_start" === "B", $"hll_est")).as("est_b"),
            max(when($"w_start" === "U", $"hll_est")).as("est_union"))
          val ex = Tables.events(s, d).agg(
            countDistinct(when($"user_id" % 2 === 0, $"user_id")).as("n_a"),
            countDistinct(when($"user_id" % 3 === 0, $"user_id")).as("n_b"),
            countDistinct(when($"user_id" % 2 === 0 || $"user_id" % 3 === 0,
              $"user_id")).as("n_union"),
            countDistinct(when($"user_id" % 6 === 0, $"user_id"))
              .as("n_intersect"))
          piv.crossJoin(ex)
            .select($"n_a", $"n_b", $"n_union", $"n_intersect",
              $"est_a", $"est_b", $"est_union",
              ($"est_a" + $"est_b" - $"est_union").as("est_intersect"),
              ($"est_union" - $"n_union").as("err_union"),
              ($"est_a" + $"est_b" - $"est_union" - $"n_intersect")
                .as("err_intersect"),
              (abs($"est_union" - $"n_union") * 1000000 <=
                $"n_union" * P.boundPpm).as("union_in_bound"))
        },
        Some {
          val P = P0
          s"""WITH eva AS (
            SELECT 'A' AS w_start, CAST(user_id AS VARCHAR) AS key_str
            FROM events WHERE user_id % 2 = 0),
          evb AS (
            SELECT 'B' AS w_start, CAST(user_id AS VARCHAR) AS key_str
            FROM events WHERE user_id % 3 = 0),
          ${graft.ext.Hll.cellsSql(P, "a", "eva")},
          ${graft.ext.Hll.cellsSql(P, "b", "evb")},
          cells AS (
            SELECT * FROM cellsa
            UNION ALL SELECT * FROM cellsb
            UNION ALL
            SELECT 'U' AS w_start, bucket, MAX(rho) AS rho
            FROM (SELECT * FROM cellsa UNION ALL SELECT * FROM cellsb)
            GROUP BY bucket),
          ${graft.ext.Hll.estChainSql(P)},
          piv AS (
            SELECT
              MAX(CASE WHEN w_start = 'A' THEN hll_est END) AS est_a,
              MAX(CASE WHEN w_start = 'B' THEN hll_est END) AS est_b,
              MAX(CASE WHEN w_start = 'U' THEN hll_est END) AS est_union
            FROM est3),
          ex AS (
            SELECT
              COUNT(DISTINCT CASE WHEN user_id % 2 = 0 THEN user_id END) AS n_a,
              COUNT(DISTINCT CASE WHEN user_id % 3 = 0 THEN user_id END) AS n_b,
              COUNT(DISTINCT CASE WHEN user_id % 2 = 0 OR user_id % 3 = 0
                THEN user_id END) AS n_union,
              COUNT(DISTINCT CASE WHEN user_id % 6 = 0 THEN user_id END)
                AS n_intersect
            FROM events)
          SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
            CAST(n_union AS BIGINT) AS n_union,
            CAST(n_intersect AS BIGINT) AS n_intersect,
            CAST(est_a AS BIGINT) AS est_a, CAST(est_b AS BIGINT) AS est_b,
            CAST(est_union AS BIGINT) AS est_union,
            CAST(est_a + est_b - est_union AS BIGINT) AS est_intersect,
            CAST(est_union - n_union AS BIGINT) AS err_union,
            CAST(est_a + est_b - est_union - n_intersect AS BIGINT)
              AS err_intersect,
            (abs(est_union - n_union) * 1000000 <=
              n_union * ${P.boundPpm}) AS union_in_bound
          FROM piv, ex"""
        })



  /** The HLL across-TIME merge-law gate body, parameterized by the
    * register count — ONE definition pins the per-bucket-MAX merge law
    * on BOTH estimate pipelines: the m = 2^14 wide-integer production
    * path and the m = 1024 Long-literal path (r16 ADVICE: repinning the
    * main gate to Hi had left the Default pipeline's merge law ungated). */
  private def hllMergeDef(name: String,
      P0: graft.ext.Hll.Params): QueryDef =
    QueryDef(
      name,
      (s, d) => {
        import s.implicits._
        val P = P0
        val evd = Tables.events(s, d)
          .select(date_trunc("day", $"ts").as("w_start"), $"user_id")
        val merged = graft.ext.Hll.cells(evd, $"user_id", P)
          .groupBy(date_trunc("week", $"w_start").as("w_start"), $"bucket")
          .agg(max($"rho").as("rho"))
        val evw = Tables.events(s, d)
          .select(date_trunc("week", $"ts").as("w_start"), $"user_id")
        val direct = graft.ext.Hll.cells(evw, $"user_id", P)
        val audit = merged.select($"w_start", $"bucket", $"rho".as("rho_m"))
          .join(direct.select($"w_start", $"bucket", $"rho".as("rho_d")),
            Seq("w_start", "bucket"), "full")
          .groupBy($"w_start")
          .agg(count(lit(1)).as("n_cells"),
            sum(when(!($"rho_m" <=> $"rho_d"), 1L).otherwise(0L))
              .as("n_mismatch"))
        val est = graft.ext.Hll.estimate(direct, P)
        val exact = evw.groupBy($"w_start")
          .agg(countDistinct($"user_id").as("n_exact"))
        audit.join(est, Seq("w_start")).join(exact, Seq("w_start"))
          .select($"w_start", $"n_exact", $"n_cells", $"n_mismatch",
            ($"n_mismatch" === 0).as("merge_exact"),
            $"hll_est", ($"hll_est" - $"n_exact").as("err"),
            (abs($"hll_est" - $"n_exact") * 1000000 <=
              $"n_exact" * P.boundPpm).as("in_bound"))
          .orderBy($"w_start")
      },
      Some {
        val P = P0
        s"""WITH evd AS (
          SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w_start,
            CAST(user_id AS VARCHAR) AS key_str
          FROM events),
        ${graft.ext.Hll.cellsSql(P, "d", "evd")},
        merged AS (
          SELECT date_trunc('week', w_start) AS w_start, bucket,
            MAX(rho) AS rho
          FROM cellsd GROUP BY 1, 2),
        ev AS (
          SELECT date_trunc('week', CAST(ts AS TIMESTAMP)) AS w_start,
            CAST(user_id AS VARCHAR) AS key_str, user_id
          FROM events),
        ${graft.ext.Hll.cellsSql(P)},
        audit AS (
          SELECT COALESCE(m.w_start, c.w_start) AS w_start,
            COUNT(*) AS n_cells,
            CAST(SUM(CASE WHEN m.rho IS DISTINCT FROM c.rho
              THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
          FROM merged m FULL JOIN cells c
            ON m.w_start = c.w_start AND m.bucket = c.bucket
          GROUP BY 1),
        ${graft.ext.Hll.estChainSql(P)},
        ex AS (
          SELECT w_start, COUNT(DISTINCT user_id) AS n_exact
          FROM ev GROUP BY w_start)
        SELECT a.w_start, x.n_exact,
          CAST(a.n_cells AS BIGINT) AS n_cells,
          a.n_mismatch,
          (a.n_mismatch = 0) AS merge_exact,
          CAST(e.hll_est AS BIGINT) AS hll_est,
          CAST(e.hll_est - x.n_exact AS BIGINT) AS err,
          (abs(e.hll_est - x.n_exact) * 1000000 <=
            x.n_exact * ${P.boundPpm}) AS in_bound
        FROM audit a JOIN est3 e USING (w_start) JOIN ex x USING (w_start)
        ORDER BY a.w_start"""
      })

  val defs: Seq[QueryDef] = Seq(

    // ---- Q3 shape: shipping priority (customer ⋈ orders ⋈ lineitem) -------
    QueryDef(
      "q3_shipping_priority",
      (s, d) => {
        import s.implicits._
        val cust = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
        val ord = Tables.orders(s, d)
          .filter($"o_orderdate" < lit("1995-03-15").cast("timestamp"))
        val li = Tables.lineitem(s, d)
          .filter($"l_shipdate" > lit("1995-03-15").cast("timestamp"))
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(cust, $"o_custkey" === $"c_custkey")
          .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
          .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount"), 6)
            .as("revenue"))
          .select($"l_orderkey",
            date_format($"o_orderdate", "yyyy-MM-dd").as("o_orderdate"),
            $"o_orderpriority", $"revenue")
          .orderBy($"revenue".desc, $"l_orderkey")
          .limit(10)
      },
      Some("""SELECT l_orderkey,
          strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
          o_orderpriority,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem
        WHERE c_mktsegment = 'BUILDING'
          AND c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
      bench = true),

    // ---- Q5 shape: local-supplier revenue (6-way snowflake join) -----------
    // customer and supplier must share a nation — the classic "local
    // supplier" cycle that forces the planner to pick a join order.
    QueryDef(
      "q5_local_supplier",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1997-01-01").cast("timestamp"))
        val cust = Tables.customer(s, d)
        val supp = Tables.supplier(s, d)
        val nat = Tables.nation(s, d)
        val reg = Tables.region(s, d).filter($"r_name" === "ASIA")
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(supp, $"l_suppkey" === $"s_suppkey")
          .join(cust, $"o_custkey" === $"c_custkey" &&
            $"c_nationkey" === $"s_nationkey")
          .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
          .groupBy($"n_name")
          .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount"), 6)
            .as("revenue"))
          .orderBy($"revenue".desc, $"n_name")
      },
      Some("""SELECT n_name,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, supplier, nation, region
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
          AND r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name ORDER BY revenue DESC, n_name"""),
      bench = true),

    // ---- Q10 shape: returned-item top customers ----------------------------
    QueryDef(
      "q10_returned_items",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d).filter($"l_returnflag" === "R")
        val ord = Tables.orders(s, d)
          .filter($"o_orderdate" >= lit("1993-10-01").cast("timestamp") &&
            $"o_orderdate" < lit("1996-01-01").cast("timestamp"))
        val cust = Tables.customer(s, d)
        val nat = Tables.nation(s, d)
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(cust, $"o_custkey" === $"c_custkey")
          .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
          .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
          .agg(dsum($"l_extendedprice" * (lit(1) - $"l_discount"), 6)
            .as("revenue"))
          .orderBy($"revenue".desc, $"c_custkey")
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        FROM customer, orders, lineitem, nation
        WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
          AND o_orderdate >= TIMESTAMP '1993-10-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
          AND l_returnflag = 'R' AND c_nationkey = n_nationkey
        GROUP BY c_custkey, c_name, c_acctbal, n_name
        ORDER BY revenue DESC, c_custkey LIMIT 20""")),

    // ---- Q8-style market share: conditional aggregation over a join --------
    // share = asia-supplied revenue / total revenue per order year — the
    // sum(CASE WHEN)/sum() pattern every BI layer generates.
    QueryDef(
      "q8_market_share",
      (s, d) => {
        import s.implicits._
        val li = Tables.lineitem(s, d)
        val ord = Tables.orders(s, d)
        val supp = Tables.supplier(s, d)
        val nat = Tables.nation(s, d)
        val reg = Tables.region(s, d)
        val suppRegion = supp
          .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
          .join(broadcast(reg), $"n_regionkey" === $"r_regionkey")
          .select($"s_suppkey", $"r_name")
        li.join(ord, $"l_orderkey" === $"o_orderkey")
          .join(suppRegion, $"l_suppkey" === $"s_suppkey")
          .groupBy(year($"o_orderdate").as("o_year"))
          .agg(
            dsum(when($"r_name" === "ASIA",
              $"l_extendedprice" * (lit(1) - $"l_discount")).otherwise(0.0), 6)
              .as("asia_rev"),
            dsum($"l_extendedprice" * (lit(1) - $"l_discount"), 6)
              .as("total_rev"))
          .withColumn("share", round($"asia_rev" / $"total_rev", 6))
          .orderBy($"o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
          CAST(SUM(CAST(CASE WHEN r_name = 'ASIA'
            THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
            AS DECIMAL(18,6))) AS DOUBLE) AS asia_rev,
          CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS total_rev,
          round(CAST(SUM(CAST(CASE WHEN r_name = 'ASIA'
              THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END
              AS DECIMAL(18,6))) AS DOUBLE)
            / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE), 6) AS share
        FROM lineitem, orders, supplier, nation, region
        WHERE l_orderkey = o_orderkey AND l_suppkey = s_suppkey
          AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        GROUP BY o_year ORDER BY o_year"""),
      // r15 verdict item 5: the committed bench stressed scan/agg, one
      // large-large join, and 3-table joins, but never a multi-join star
      // — and at 100× the join order / broadcast cascade is where
      // engines fall over. q8 (5 tables, two broadcast dims, the
      // lineitem⋈orders backbone the bucketed layout serves) is that
      // headliner.
      bench = true),

    // ---- A7c: explicit GROUPING SETS (beyond rollup/cube) ------------------
    QueryDef(
      "a7_grouping_sets",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .groupingSets(
            Seq(Seq($"o_orderstatus", $"o_orderpriority"),
              Seq($"o_orderstatus"), Seq.empty),
            $"o_orderstatus", $"o_orderpriority")
          .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("sum_price"))
          .orderBy($"o_orderstatus".asc_nulls_first,
            $"o_orderpriority".asc_nulls_first)
      },
      Some("""SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
          CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_price
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          (o_orderstatus), ())
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""")),

    // ---- scalar subquery: rows above the global average --------------------
    // The scalar aggregate is computed once and broadcast into the filter —
    // the distributed form of `WHERE x > (SELECT AVG(x) ...)`. The average
    // goes through the decimal-exact path so both engines compare against
    // the bit-identical threshold.
    QueryDef(
      "sub_scalar_above_avg",
      (s, d) => {
        import s.implicits._
        val ord = Tables.orders(s, d)
        val avgPrice = ord.agg(
          (sum($"o_totalprice".cast("decimal(18,4)")).cast("double") /
            count(lit(1))).as("avg_price"))
        ord.crossJoin(broadcast(avgPrice))
          .filter($"o_totalprice" > $"avg_price" * 1.5)
          .select($"o_orderkey", $"o_totalprice")
          .orderBy($"o_orderkey")
      },
      Some("""SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_totalprice > (SELECT
            CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*)
          FROM orders) * 1.5
        ORDER BY o_orderkey""")),

    // ---- A11: equi-width histogram with cumulative distribution -----------
    // The profiling staple: fixed-width buckets (width 25 over value's
    // [0, 500) domain), per-bucket count, running cumulative count and
    // overall fraction. bucket = floor(value / 25.0) is a single per-row
    // double op (bit-deterministic, QueryDef header rule); counts are
    // integral; the only cross-bucket state is a ~20-row window — so the
    // heavy part is ONE map-side-combinable groupBy however large the
    // event table, and the window runs on the bucket summary, not the
    // data. frac divides two longs cast to double — identical on both
    // engines.
    QueryDef(
      "a11_histogram",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val h = Tables.events(s, d)
          .select(floor($"value" / 25.0).cast("int").as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n"))
        val tot = h.agg(sum($"n").as("tot"))
        h.crossJoin(broadcast(tot))
          .withColumn("cum_n", sum($"n").over(Window.orderBy($"bucket")))
          .select($"bucket",
            ($"bucket" * 25.0).as("lo"),
            (($"bucket" + 1) * 25.0).as("hi"),
            $"n", $"cum_n",
            ($"n".cast("double") / $"tot").as("frac"))
          .orderBy($"bucket")
      },
      Some("""WITH h AS (SELECT CAST(floor(value / 25.0) AS INTEGER) AS bucket,
            COUNT(*) AS n
          FROM events GROUP BY 1),
        t AS (SELECT CAST(SUM(n) AS BIGINT) AS tot FROM h)
        SELECT bucket, bucket * 25.0 AS lo, (bucket + 1) * 25.0 AS hi, n,
          CAST(SUM(n) OVER (ORDER BY bucket) AS BIGINT) AS cum_n,
          CAST(n AS DOUBLE) / t.tot AS frac
        FROM h, t ORDER BY bucket""")),

    // ---- A12: equi-DEPTH histogram (quantile-bounded buckets) --------------
    // The partner to a11's equi-width form: decile boundaries from ONE
    // exact-percentile aggregate (both engines round to 4dp — the
    // a9_percentiles interpolation contract — so the boundary compare
    // runs on identical doubles), then per-row bucket assignment as a
    // SHARED CASE expression counting boundaries at or below the value.
    // No ntile, therefore no single-partition global window: boundaries
    // broadcast as a 1-row aggregate and assignment is map-only. Buckets
    // carry ~10% of rows each except where boundary ties mass
    // (deterministic on both engines). The equi-depth view is what a
    // range-partitioner or stratifier actually consumes.
    QueryDef(
      "a12_equidepth_histogram",
      (s, d) => {
        import s.implicits._
        val qs = (1 to 9).map(i =>
          round(expr(s"percentile(value, 0.$i)"), 4).as(s"q$i"))
        val bounds = Tables.events(s, d).agg(qs.head, qs.tail: _*)
        val bucket = (1 to 9).map(i =>
          when($"value" >= col(s"q$i"), 1).otherwise(0))
          .reduce(_ + _)
        Tables.events(s, d).crossJoin(broadcast(bounds))
          .select(bucket.as("bucket"))
          .groupBy($"bucket").agg(count(lit(1)).as("n"))
          .orderBy($"bucket")
      },
      Some("""WITH b AS (SELECT
          round(quantile_cont(value, 0.1), 4) AS q1,
          round(quantile_cont(value, 0.2), 4) AS q2,
          round(quantile_cont(value, 0.3), 4) AS q3,
          round(quantile_cont(value, 0.4), 4) AS q4,
          round(quantile_cont(value, 0.5), 4) AS q5,
          round(quantile_cont(value, 0.6), 4) AS q6,
          round(quantile_cont(value, 0.7), 4) AS q7,
          round(quantile_cont(value, 0.8), 4) AS q8,
          round(quantile_cont(value, 0.9), 4) AS q9
          FROM events)
        SELECT
          (CASE WHEN value >= q1 THEN 1 ELSE 0 END) +
          (CASE WHEN value >= q2 THEN 1 ELSE 0 END) +
          (CASE WHEN value >= q3 THEN 1 ELSE 0 END) +
          (CASE WHEN value >= q4 THEN 1 ELSE 0 END) +
          (CASE WHEN value >= q5 THEN 1 ELSE 0 END) +
          (CASE WHEN value >= q6 THEN 1 ELSE 0 END) +
          (CASE WHEN value >= q7 THEN 1 ELSE 0 END) +
          (CASE WHEN value >= q8 THEN 1 ELSE 0 END) +
          (CASE WHEN value >= q9 THEN 1 ELSE 0 END) AS bucket,
          COUNT(*) AS n
        FROM events, b GROUP BY 1 ORDER BY bucket""")),

    // ---- Approximate-quantile SKETCH as relational algebra (r13 item 6) ----
    // The CMS/Bloom family's missing member: a mergeable fixed-footprint
    // quantile sketch with a driver-visible error column — the at-rest /
    // per-window story a9_approx_percentile's built-in cannot give (its
    // sketch state has no cross-engine-derivable form). Scheme is the
    // HdrHistogram bucketing, INTEGER-EXACT on both engines (no log(), so
    // none of the transcendental tie-boundary risk class): value v (exact
    // decimal cents) lands in the power-of-two bucket
    //   lb(v) = (v div P)·P,  P = 2^max(e-5, 0),  e = floor(log2 v)
    // computed as length(bin(v))-1 — string length of the binary form,
    // pure integer both engines. Buckets per group ≤ 64·32, whatever the
    // corpus size; counts are commutative sums, so the sketch is
    // partition-order-free AND mergeable (window sketches merge by adding
    // counts — the CMS property). Quantile estimate = smallest lb whose
    // cumulative count reaches ceil(q·n); the true percentile_disc value
    // lies inside that bucket, so est ≤ exact ALWAYS (one-sided, the CMS
    // overcount analog) with relative error < 2^-5 — a THEOREM, so
    // in_bound is deterministically true and the row is hash-exact, not
    // probabilistic. The exact arm (value-frequency cumsum) exists only
    // because the gate audits the sketch; production ships the ≤2048-row
    // sketch. Scale shape: one map-side-combined groupBy builds the
    // sketch; every window after it runs on sketch-sized frames.
    QueryDef(
      "x_quantile_sketch",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val vals = Tables.lineitem(s, d)
          .select($"l_returnflag".as("grp"),
            graft.functions.FixedPoint.requirePositive(
              ($"l_extendedprice".cast("decimal(18,2)") * 100).cast("long"),
              "x_quantile_sketch").as("v"))
        val withLb = vals
          .withColumn("p", expr(
            "shiftleft(cast(1 as bigint), greatest(length(bin(v)) - 6, 0))"))
          .withColumn("lb", expr("(v div p) * p"))
        val cells = withLb.groupBy($"grp", $"lb").agg(count(lit(1)).as("c"))
        val sk = cells
          .withColumn("cum",
            sum($"c").over(Window.partitionBy($"grp").orderBy($"lb")))
        // n per group = Σ cells — the sketch already holds it; summing the
        // ≤2048-cell frame beats re-scanning the fact table (same value,
        // so the oracle's COUNT(*) form still hash-matches)
        val tgt = cells.groupBy($"grp").agg(sum($"c").as("n"))
          .crossJoin(broadcast(Seq(25, 50, 75, 95, 99).toDF("qpct")))
          .withColumn("target", expr("(n * qpct + 99) div 100"))
        val est = tgt.join(sk, Seq("grp")).filter($"cum" >= $"target")
          .groupBy($"grp", $"qpct", $"n", $"target")
          .agg(min($"lb").as("est_cents"))
        val vdc = vals.groupBy($"grp", $"v").agg(count(lit(1)).as("c"))
          .withColumn("cum",
            sum($"c").over(Window.partitionBy($"grp").orderBy($"v")))
        val ex = tgt.join(vdc, Seq("grp")).filter($"cum" >= $"target")
          .groupBy($"grp", $"qpct").agg(min($"v").as("exact_cents"))
        est.join(ex, Seq("grp", "qpct"))
          .select($"grp", $"qpct", $"n", $"target", $"est_cents",
            $"exact_cents",
            ($"exact_cents" - $"est_cents").as("err_cents"),
            expr("((exact_cents - est_cents) * 1000000) div exact_cents")
              .as("rel_err_ppm"))
          .withColumn("in_bound", $"rel_err_ppm" < 31250)
          .orderBy($"grp", $"qpct")
      },
      Some("""WITH vals AS (
          SELECT l_returnflag AS grp,
            CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          FROM lineitem),
        b AS (
          SELECT grp, v,
            (v // (1::BIGINT << greatest(length(bin(v)) - 6, 0)))
              * (1::BIGINT << greatest(length(bin(v)) - 6, 0)) AS lb
          FROM vals),
        sk AS (
          SELECT grp, lb, COUNT(*) AS c FROM b GROUP BY grp, lb),
        skc AS (
          SELECT grp, lb,
            SUM(c) OVER (PARTITION BY grp ORDER BY lb) AS cum
          FROM sk),
        tgt AS (
          SELECT n.grp, n.n, q.qpct, (n.n * q.qpct + 99) // 100 AS target
          FROM (SELECT grp, COUNT(*) AS n FROM vals GROUP BY grp) n,
            (SELECT unnest([25, 50, 75, 95, 99]) AS qpct) q),
        est AS (
          SELECT t.grp, t.qpct, t.n, t.target, MIN(s.lb) AS est_cents
          FROM tgt t JOIN skc s ON s.grp = t.grp AND s.cum >= t.target
          GROUP BY t.grp, t.qpct, t.n, t.target),
        vdc AS (
          SELECT grp, v, SUM(c) OVER (PARTITION BY grp ORDER BY v) AS cum
          FROM (SELECT grp, v, COUNT(*) AS c FROM vals GROUP BY grp, v)),
        ex AS (
          SELECT t.grp, t.qpct, MIN(d.v) AS exact_cents
          FROM tgt t JOIN vdc d ON d.grp = t.grp AND d.cum >= t.target
          GROUP BY t.grp, t.qpct)
        SELECT e.grp, e.qpct, e.n, e.target, e.est_cents, x.exact_cents,
          x.exact_cents - e.est_cents AS err_cents,
          ((x.exact_cents - e.est_cents) * 1000000) // x.exact_cents
            AS rel_err_ppm,
          (((x.exact_cents - e.est_cents) * 1000000) // x.exact_cents
            < 31250) AS in_bound
        FROM est e JOIN ex x ON e.grp = x.grp AND e.qpct = x.qpct
        ORDER BY e.grp, e.qpct""")),

    // ---- Windowed quantile sketch (the mergeability claim, demonstrated) ---
    // The same HdrHistogram sketch keyed by event-time day window: per-day
    // value quantiles from per-day sketches that are just (window, lb)
    // count cells — each day's sketch merges across partitions by count
    // addition (one map-side-combined groupBy), and a coarser window
    // (week/month) would merge the SAME cells further without touching
    // the data again. That windowed/at-rest story is exactly what
    // a9_approx_percentile's opaque built-in sketch cannot give. Same
    // one-sided < 2^-5 bound per window, deterministic (theorem), exact
    // arm audit-only as in x_quantile_sketch.
    QueryDef(
      "x_quantile_sketch_windowed",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        // v >= 0, not >= 1: event corpora legitimately carry zero values
        // (sf0.1 has 1904 of them — the r15 sweep caught the stricter
        // guard reddening the query) and this gate's audit divides by
        // nothing (in_bound is a multiply), so lb = 0 is a well-defined
        // bucket identical on both engines; only negatives raise.
        val vals = Tables.events(s, d)
          .select(date_trunc("day", $"ts").as("w_start"),
            graft.functions.FixedPoint.requireNonNegative(
              ($"value".cast("decimal(18,2)") * 100).cast("long"),
              "x_quantile_sketch_windowed").as("v"))
        val withLb = vals
          .withColumn("p", expr(
            "shiftleft(cast(1 as bigint), greatest(length(bin(v)) - 6, 0))"))
          .withColumn("lb", expr("(v div p) * p"))
        val cells = withLb.groupBy($"w_start", $"lb")
          .agg(count(lit(1)).as("c"))
        val sk = cells
          .withColumn("cum",
            sum($"c").over(Window.partitionBy($"w_start").orderBy($"lb")))
        // n per window from the cells themselves (x_quantile_sketch note)
        val tgt = cells.groupBy($"w_start").agg(sum($"c").as("n"))
          .crossJoin(broadcast(Seq(50, 95).toDF("qpct")))
          .withColumn("target", expr("(n * qpct + 99) div 100"))
        val est = tgt.join(sk, Seq("w_start")).filter($"cum" >= $"target")
          .groupBy($"w_start", $"qpct", $"n")
          .agg(min($"lb").as("est_cents"))
        val vdc = vals.groupBy($"w_start", $"v").agg(count(lit(1)).as("c"))
          .withColumn("cum",
            sum($"c").over(Window.partitionBy($"w_start").orderBy($"v")))
        val ex = tgt.join(vdc, Seq("w_start")).filter($"cum" >= $"target")
          .groupBy($"w_start", $"qpct").agg(min($"v").as("exact_cents"))
        est.join(ex, Seq("w_start", "qpct"))
          .select($"w_start", $"qpct", $"n", $"est_cents", $"exact_cents",
            ($"exact_cents" - $"est_cents").as("err_cents"),
            (($"exact_cents" - $"est_cents") * 32 < $"exact_cents")
              .as("in_bound"))
          .orderBy($"w_start", $"qpct")
      },
      Some("""WITH vals AS (
          SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w_start,
            CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
          FROM events),
        b AS (
          SELECT w_start, v,
            (v // (1::BIGINT << greatest(length(bin(v)) - 6, 0)))
              * (1::BIGINT << greatest(length(bin(v)) - 6, 0)) AS lb
          FROM vals),
        skc AS (
          SELECT w_start, lb,
            SUM(c) OVER (PARTITION BY w_start ORDER BY lb) AS cum
          FROM (SELECT w_start, lb, COUNT(*) AS c FROM b GROUP BY w_start, lb)),
        tgt AS (
          SELECT n.w_start, n.n, q.qpct, (n.n * q.qpct + 99) // 100 AS target
          FROM (SELECT w_start, COUNT(*) AS n FROM vals GROUP BY w_start) n,
            (SELECT unnest([50, 95]) AS qpct) q),
        est AS (
          SELECT t.w_start, t.qpct, t.n, MIN(s.lb) AS est_cents
          FROM tgt t JOIN skc s ON s.w_start = t.w_start AND s.cum >= t.target
          GROUP BY t.w_start, t.qpct, t.n),
        vdc AS (
          SELECT w_start, v,
            SUM(c) OVER (PARTITION BY w_start ORDER BY v) AS cum
          FROM (SELECT w_start, v, COUNT(*) AS c FROM vals GROUP BY w_start, v)),
        ex AS (
          SELECT t.w_start, t.qpct, MIN(d.v) AS exact_cents
          FROM tgt t JOIN vdc d ON d.w_start = t.w_start AND d.cum >= t.target
          GROUP BY t.w_start, t.qpct)
        SELECT e.w_start, e.qpct, e.n, e.est_cents, x.exact_cents,
          x.exact_cents - e.est_cents AS err_cents,
          ((x.exact_cents - e.est_cents) * 32 < x.exact_cents) AS in_bound
        FROM est e JOIN ex x
          ON e.w_start = x.w_start AND e.qpct = x.qpct
        ORDER BY e.w_start, e.qpct""")),

    // ---- Quantile-sketch merge law: weekly cells FROM daily ≡ direct -------
    // The sum-merge twin of x_hll_merge: HdrHistogram cells merge by
    // count ADDITION, so summing the persisted daily (window, lb, c)
    // cells up to weeks must reproduce the direct weekly cells exactly
    // (Σ over a partition of the data = count over the union). The full
    // outer cell audit (n_mismatch must read 0) rides with the weekly
    // p50/p95 extracted FROM THE MERGED CELLS — the at-rest
    // re-aggregation path a production store would actually serve —
    // every column integer and hash-exact.
    QueryDef(
      "x_quantile_sketch_merge",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val vals = Tables.events(s, d)
          .select(date_trunc("day", $"ts").as("w_day"),
            graft.functions.FixedPoint.requireNonNegative(
              ($"value".cast("decimal(18,2)") * 100).cast("long"),
              "x_quantile_sketch_merge").as("v"))
          .withColumn("p", expr(
            "shiftleft(cast(1 as bigint), greatest(length(bin(v)) - 6, 0))"))
          .withColumn("lb", expr("(v div p) * p"))
        val dayCells = vals.groupBy($"w_day", $"lb").agg(count(lit(1)).as("c"))
        val merged = dayCells
          .groupBy(date_trunc("week", $"w_day").as("w_start"), $"lb")
          .agg(sum($"c").as("c"))
        val direct = vals
          .groupBy(date_trunc("week", $"w_day").as("w_start"), $"lb")
          .agg(count(lit(1)).as("c"))
        val audit = merged.select($"w_start", $"lb", $"c".as("c_m"))
          .join(direct.select($"w_start", $"lb", $"c".as("c_d")),
            Seq("w_start", "lb"), "full")
          .groupBy($"w_start")
          .agg(count(lit(1)).as("n_cells"),
            sum(when(!($"c_m" <=> $"c_d"), 1L).otherwise(0L))
              .as("n_mismatch"))
        val sk = merged.withColumn("cum",
          sum($"c").over(Window.partitionBy($"w_start").orderBy($"lb")))
        val tgt = merged.groupBy($"w_start").agg(sum($"c").as("n"))
          .crossJoin(broadcast(Seq(50, 95).toDF("qpct")))
          .withColumn("target", expr("(n * qpct + 99) div 100"))
        val est = tgt.join(sk, Seq("w_start")).filter($"cum" >= $"target")
          .groupBy($"w_start", $"qpct", $"n")
          .agg(min($"lb").as("est_cents"))
        est.join(audit, Seq("w_start"))
          .select($"w_start", $"qpct", $"n", $"est_cents",
            $"n_cells", $"n_mismatch",
            ($"n_mismatch" === 0).as("merge_exact"))
          .orderBy($"w_start", $"qpct")
      },
      Some("""WITH vals AS (
          SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w_day,
            (CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
              // (1::BIGINT << greatest(length(bin(
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))) - 6, 0)))
              * (1::BIGINT << greatest(length(bin(
                CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))) - 6, 0))
              AS lb
          FROM events),
        daycells AS (
          SELECT w_day, lb, COUNT(*) AS c FROM vals GROUP BY w_day, lb),
        merged AS (
          SELECT date_trunc('week', w_day) AS w_start, lb,
            CAST(SUM(c) AS BIGINT) AS c
          FROM daycells GROUP BY 1, 2),
        direct AS (
          SELECT date_trunc('week', w_day) AS w_start, lb, COUNT(*) AS c
          FROM vals GROUP BY 1, 2),
        audit AS (
          SELECT COALESCE(m.w_start, d.w_start) AS w_start,
            COUNT(*) AS n_cells,
            CAST(SUM(CASE WHEN m.c IS DISTINCT FROM d.c
              THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch
          FROM merged m FULL JOIN direct d
            ON m.w_start = d.w_start AND m.lb = d.lb
          GROUP BY 1),
        skc AS (
          SELECT w_start, lb,
            SUM(c) OVER (PARTITION BY w_start ORDER BY lb) AS cum
          FROM merged),
        tgt AS (
          SELECT n.w_start, n.n, q.qpct, (n.n * q.qpct + 99) // 100 AS target
          FROM (SELECT w_start, CAST(SUM(c) AS BIGINT) AS n
                FROM merged GROUP BY w_start) n,
            (SELECT unnest([50, 95]) AS qpct) q),
        est AS (
          SELECT t.w_start, t.qpct, t.n, MIN(s.lb) AS est_cents
          FROM tgt t JOIN skc s ON s.w_start = t.w_start AND s.cum >= t.target
          GROUP BY t.w_start, t.qpct, t.n)
        SELECT e.w_start, e.qpct, e.n, e.est_cents,
          CAST(a.n_cells AS BIGINT) AS n_cells,
          a.n_mismatch,
          (a.n_mismatch = 0) AS merge_exact
        FROM est e JOIN audit a USING (w_start)
        ORDER BY e.w_start, e.qpct""")),

    // ---- HLL cardinality sketch as relational algebra ----------------------
    // The sketch family's cardinality member (CMS = frequency, Bloom =
    // membership, HdrHistogram = quantiles, HLL = distinct), closing the
    // same gap for a8/t4_window_distinct's OPAQUE built-in that
    // x_quantile_sketch closed for approx_percentile: built-in HLL state
    // has no cross-engine-derivable form, so its gates can only assert
    // bounded agreement. This one is md5-cell relational algebra
    // (graft.ext.Hll, ONE m-parameterized definition shared with the
    // streaming twin and this oracle): bucket = h mod m, rho via
    // length(bin(h div m)) (pure integer, the quantile-sketch trick) —
    // so every column INCLUDING the estimate is hash-exact, and the
    // cells are mergeable by per-bucket MAX (windowed/streaming-able,
    // unlike the built-in). The small-range linear-counting branch needs
    // ln(m/V), which has only m possible values: they are inlined as
    // SHARED LITERAL CONSTANTS computed once at query-construction time
    // and embedded in both plans — no runtime transcendental anywhere,
    // so none of the tie-boundary risk class. Accuracy columns
    // (err/in_bound) are deterministic on both engines — a sketch
    // outlier cannot flake the gate (the a8 weakness this form retires).
    // m = 1024 (r14 verdict item 5): rsd ≈ 1.04/√1024 ≈ 3.25%, and the
    // in_bound bound is 5·rsd ≈ 16% — tight enough to certify accuracy,
    // loose enough to be a theorem-backed margin, and still hash-exact
    // because both engines compute the identical integer columns.
    // Scale shape: one map-side-combined groupBy to ≤ m cells per
    // window; the estimate reads cell rows only (m·12 bytes a window).
    QueryDef(
      "x_hll_window",
      (s, d) => {
        import s.implicits._
        val P = graft.ext.Hll.Default // m = 1024: rsd ≈ 3.25%, bound 5·rsd
        val ev = Tables.events(s, d)
          .select(date_trunc("day", $"ts").as("w_start"), $"user_id")
        val est = graft.ext.Hll.estimate(
          graft.ext.Hll.cells(ev, $"user_id", P), P)
        val exact = ev.groupBy($"w_start")
          .agg(countDistinct($"user_id").as("n_exact"))
        est.join(exact, Seq("w_start"))
          .select($"w_start", $"n_exact", $"n_present", $"v_zero",
            $"hll_raw", $"hll_est",
            ($"hll_est" - $"n_exact").as("err"),
            (abs($"hll_est" - $"n_exact") * 1000000 <=
              $"n_exact" * P.boundPpm).as("in_bound"))
          .orderBy($"w_start")
      },
      Some {
        val P = graft.ext.Hll.Default
        s"""WITH ev AS (
          SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w_start,
            user_id, CAST(user_id AS VARCHAR) AS key_str
          FROM events),
        ${graft.ext.Hll.estimateSql(P)},
        ex AS (
          SELECT w_start, COUNT(DISTINCT user_id) AS n_exact
          FROM ev GROUP BY w_start)
        SELECT e.w_start, x.n_exact,
          CAST(e.n_present AS BIGINT) AS n_present,
          CAST(e.v_zero AS BIGINT) AS v_zero,
          CAST(e.hll_raw AS BIGINT) AS hll_raw,
          CAST(e.hll_est AS BIGINT) AS hll_est,
          CAST(e.hll_est - x.n_exact AS BIGINT) AS err,
          (abs(e.hll_est - x.n_exact) * 1000000 <=
            x.n_exact * ${P.boundPpm}) AS in_bound
        FROM est3 e JOIN ex x USING (w_start)
        ORDER BY e.w_start"""
      }),

    // ---- HLL at the production register count: m = 2^14 --------------------
    // The same shared pipeline at Heule et al.'s HLL++ default precision
    // 14 (m = 16384, rsd ≈ 0.81%, bound 5·rsd ≈ 4% — TEN times tighter
    // than a8's built-in accuracy contract). The point of this gate is
    // the WIDE-INTEGER path: α·m²·1e12 ≈ 1.9e20 exceeds Long, so the
    // estimate numerator rides DECIMAL(38,0) on Spark and HUGEINT on
    // DuckDB — both exact, same integer `div`, still hash-exact on every
    // column INCLUDING the estimate (r15 verdict item 2 lifted the
    // m = 2048 Long cap this way). The LUT is one 16384-entry ArrayType
    // literal (typedlit) on the Spark side — a single constant node, not
    // a 16K-child expression tree. Gate-scale estimates sit in the
    // linear-counting regime (window cardinality ≪ 5m/2), exactly where
    // production HLL at p=14 lives for daily windows; the raw-branch
    // arithmetic is exercised to the same exactness by x_hll_window's
    // m = 1024 twin, which keeps the Long-literal path pinned too.
    QueryDef(
      "x_hll_window_hi",
      (s, d) => {
        import s.implicits._
        val P = graft.ext.Hll.Hi // m = 16384: rsd ≈ 0.81%, bound ≈ 4%
        val ev = Tables.events(s, d)
          .select(date_trunc("day", $"ts").as("w_start"), $"user_id")
        val est = graft.ext.Hll.estimate(
          graft.ext.Hll.cells(ev, $"user_id", P), P)
        val exact = ev.groupBy($"w_start")
          .agg(countDistinct($"user_id").as("n_exact"))
        est.join(exact, Seq("w_start"))
          .select($"w_start", $"n_exact", $"n_present", $"v_zero",
            $"hll_raw", $"hll_est",
            ($"hll_est" - $"n_exact").as("err"),
            (abs($"hll_est" - $"n_exact") * 1000000 <=
              $"n_exact" * P.boundPpm).as("in_bound"))
          .orderBy($"w_start")
      },
      Some {
        val P = graft.ext.Hll.Hi
        s"""WITH ev AS (
          SELECT date_trunc('day', CAST(ts AS TIMESTAMP)) AS w_start,
            user_id, CAST(user_id AS VARCHAR) AS key_str
          FROM events),
        ${graft.ext.Hll.estimateSql(P)},
        ex AS (
          SELECT w_start, COUNT(DISTINCT user_id) AS n_exact
          FROM ev GROUP BY w_start)
        SELECT e.w_start, x.n_exact,
          CAST(e.n_present AS BIGINT) AS n_present,
          CAST(e.v_zero AS BIGINT) AS v_zero,
          CAST(e.hll_raw AS BIGINT) AS hll_raw,
          CAST(e.hll_est AS BIGINT) AS hll_est,
          CAST(e.hll_est - x.n_exact AS BIGINT) AS err,
          (abs(e.hll_est - x.n_exact) * 1000000 <=
            x.n_exact * ${P.boundPpm}) AS in_bound
        FROM est3 e JOIN ex x USING (w_start)
        ORDER BY e.w_start"""
      }),

    // ---- HLL merge law: weekly cells FROM daily cells ≡ direct weekly ------
    // The mergeability claim as a GATE, not a scaladoc sentence: HLL
    // registers merge by per-bucket MAX, so max-merging the persisted
    // DAILY cells up to weeks must reproduce the direct weekly cells
    // BIT-FOR-BIT (max over a partition of the data = max over the
    // union). This is the 100 TB at-rest story — weekly/monthly/all-time
    // cardinalities re-aggregate from KB-scale daily cells without ever
    // touching raw data again — and the audit is exhaustive: a FULL
    // OUTER join of merged vs direct cells counts every cell and every
    // mismatch (n_mismatch must read 0), with the weekly estimate and
    // its error bound riding along from the same shared Hll pipeline.
    // production m = 2^14 (wide-integer estimate path, r15 item 2) AND
    // the m = 1024 Long-literal path: repinning the main gate to Hi left
    // the Default pipeline's across-TIME merge law ungated (r16 ADVICE) —
    // the factory makes the twin free
    hllMergeDef("x_hll_merge", graft.ext.Hll.Hi),
    hllMergeDef("x_hll_merge_lo", graft.ext.Hll.Default),

    // ---- HLL set algebra: union by register max, intersect by in-ex -------
    // The second mergeability dimension (x_hll_merge merges across TIME;
    // this merges across SETS): |A∪B| comes from max-merging A's and B's
    // registers — no rescan, exact at the register level — and |A∩B|
    // from inclusion–exclusion on the three estimates. Cohorts are
    // deterministic id slices (even ids vs ids ≡ 0 mod 3 → overlap =
    // ids ≡ 0 mod 6): at gate scale every ORGANIC cohort of this corpus
    // fully overlaps (all 150 users touch every event type), so sliced
    // cohorts manufacture the partial-overlap case the algebra must
    // actually handle. Every estimate is the shared integer Hll
    // pipeline — single row, all columns hash-exact; union carries the
    // 5·rsd bound, intersection's error rides unbounded-but-visible
    // (inclusion–exclusion compounds three estimates' errors; that
    // honesty is the point).
    hllUnionDef("x_hll_union", graft.ext.Hll.Default),
    // the same algebra on the wide-integer estimate path (r16): union by
    // register max and inclusion-exclusion intersection at the production
    // m = 2^14, where the 4% union bound actually constrains
    hllUnionDef("x_hll_union_hi", graft.ext.Hll.Hi),

    // ---- Outlier detection: per-group z-scores, top-k most extreme --------
    // Data-quality screening as a two-pass shape: per-group moments from
    // DECIMAL-EXACT sums (order-free, so map-side partials can't drift
    // from the single-threaded oracle), broadcast back onto the stream,
    // z = (value − s/n) / sqrt((sq − s·s/n)/(n−1)) as pure per-row double
    // arithmetic — both engines evaluate the IDENTICAL expression tree on
    // identical inputs, so z is bit-exact with no rounding detour. Top-20
    // by |z| plans as TakeOrderedAndProject (per-partition heap, k-row
    // driver merge), with event_id as the total-order tie-break. The
    // group-stats broadcast is |event_types| rows — scale-free.
    QueryDef(
      "x_outlier_zscore",
      (s, d) => {
        import s.implicits._
        val ev = Tables.events(s, d)
        val dec = $"value".cast("decimal(18,2)")
        val st = ev.groupBy($"event_type").agg(
          count(lit(1)).as("n"),
          sum(dec).cast("double").as("s"),
          sum(dec * dec).cast("double").as("sq"))
        ev.join(broadcast(st), "event_type")
          .withColumn("z",
            ($"value" - $"s" / $"n") /
              sqrt(($"sq" - $"s" * $"s" / $"n") / ($"n" - 1)))
          .orderBy(abs($"z").desc, $"event_id")
          .limit(20)
          .select($"event_id", $"event_type", $"value", $"z")
      },
      Some("""WITH st AS (SELECT event_type, COUNT(*) AS n,
            CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
            CAST(SUM(CAST(value AS DECIMAL(18,2)) *
              CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sq
          FROM events GROUP BY 1)
        SELECT e.event_id, e.event_type, e.value,
          (e.value - st.s / st.n) /
            sqrt((st.sq - st.s * st.s / st.n) / (st.n - 1)) AS z
        FROM events e JOIN st USING (event_type)
        ORDER BY abs(z) DESC, event_id LIMIT 20""")),

    // ---- Robust MAD outlier gate (the z-score's heavy-tail-safe twin) ------
    // Median absolute deviation per event_type: med = median(value),
    // mad = median(|value − med|), outlier ⇔ |value − med| > 3·mad.
    // Unlike x_outlier_zscore, a single extreme value cannot drag the
    // center or inflate the spread — the robust gate a curation pass
    // trusts on heavy-tailed quality scores. med/mad round to 4dp on
    // BOTH engines (the a9_percentiles interpolation contract:
    // percentile ≡ quantile_cont to 4dp), so the threshold compare runs
    // on identical doubles and the counts are hash-exact. Scale shape:
    // two grouped exact percentiles (sort-based within |groups| ≈ small
    // partitions) + two broadcast joins of the per-group stats; at 100 TB
    // swap `percentile` for approx_percentile and keep the frame.
    QueryDef(
      "x_mad_outliers",
      (s, d) => {
        import s.implicits._
        val base = Tables.events(s, d)
          .select($"event_type".as("g"), $"value".as("x"))
        val med = base.groupBy($"g")
          .agg(round(expr("percentile(x, 0.5)"), 4).as("med"))
        val dev = base.join(broadcast(med), Seq("g"))
          .select($"g", $"med", abs($"x" - $"med").as("dev"))
        val mad = dev.groupBy($"g")
          .agg(round(expr("percentile(dev, 0.5)"), 4).as("mad"))
        dev.join(broadcast(mad), Seq("g"))
          .groupBy($"g", $"med", $"mad")
          .agg(count(lit(1)).as("n"),
            sum(when($"dev" > $"mad" * 3, 1L).otherwise(0L))
              .as("n_outliers"),
            round(max($"dev"), 4).as("max_dev"))
          .select($"g".as("event_type"), $"n", $"med", $"mad",
            $"n_outliers", $"max_dev")
          .orderBy($"event_type")
      },
      Some("""WITH b AS (SELECT event_type AS g, value AS x FROM events),
        med AS (SELECT g, round(quantile_cont(x, 0.5), 4) AS med
          FROM b GROUP BY g),
        dev AS (SELECT b.g, med.med, abs(b.x - med.med) AS dev
          FROM b JOIN med USING (g)),
        mad AS (SELECT g, round(quantile_cont(dev, 0.5), 4) AS mad
          FROM dev GROUP BY g)
        SELECT d.g AS event_type, COUNT(*) AS n, d.med, m.mad,
          CAST(SUM(CASE WHEN d.dev > m.mad * 3 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
          round(MAX(d.dev), 4) AS max_dev
        FROM dev d JOIN mad m USING (g)
        GROUP BY d.g, d.med, m.mad ORDER BY event_type""")),

    // ---- Pearson correlation matrix (feature-relationship audit) -----------
    // Pairwise r over the four lineitem measures in ONE pass: every
    // Σx/Σx²/Σxy accumulates in DECIMAL (exact, order-independent — the
    // module contract), then r assembles in DOUBLE with the identical
    // expression tree on both engines: r = (n·Σxy − Σx·Σy) /
    // sqrt((n·Σx² − Σx²)·(n·Σy² − Σy²)), rounded to 6dp. The
    // quality-pipeline use: spotting redundant/derived features before
    // training a filter model. Scale shape: one map-side-combined
    // aggregate over the fact table (15 running sums), then a 6-row
    // stack — no second pass, no shuffle beyond the single global agg.
    QueryDef(
      "x_corr_matrix",
      (s, d) => {
        import s.implicits._
        // precision 19 (not 18): DuckDB multiplies two int64-backed
        // DECIMAL(18)s in int64 and raises overflow on wide values;
        // width ≥ 19 forces int128 on its side, and Spark's (19,6)² →
        // (38,11) keeps every ≤4-decimal product exact
        val dec = (c: String) => col(c).cast("decimal(19,6)")
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val short = Map("l_quantity" -> "q", "l_extendedprice" -> "e",
          "l_discount" -> "di", "l_tax" -> "t")
        val sums =
          Seq(count(lit(1)).cast("double").as("n")) ++
          cols.map(c => sum(dec(c)).cast("double").as(s"s_${short(c)}")) ++
          cols.map(c => sum(dec(c) * dec(c)).cast("double")
            .as(s"ss_${short(c)}")) ++
          cols.combinations(2).map { case Seq(a, b) =>
            sum(dec(a) * dec(b)).cast("double")
              .as(s"sp_${short(a)}_${short(b)}")
          }.toSeq
        val agg = Tables.lineitem(s, d).agg(sums.head, sums.tail: _*)
        val pairs = cols.combinations(2).map { case Seq(a, b) =>
          val (x, y) = (short(a), short(b))
          s"""'$a', '$b', round(
             |  (n * sp_${x}_$y - s_$x * s_$y) /
             |  sqrt((n * ss_$x - s_$x * s_$x) * (n * ss_$y - s_$y * s_$y)),
             |6)""".stripMargin
        }.mkString(", ")
        agg.selectExpr(
          s"stack(6, $pairs) AS (col_x, col_y, r)")
          .orderBy($"col_x", $"col_y")
      },
      Some("""WITH a AS (SELECT
          CAST(COUNT(*) AS DOUBLE) AS n,
          CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS s_q,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS s_e,
          CAST(SUM(CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS s_di,
          CAST(SUM(CAST(l_tax AS DECIMAL(19,6))) AS DOUBLE) AS s_t,
          CAST(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS ss_q,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS ss_e,
          CAST(SUM(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS ss_di,
          CAST(SUM(CAST(l_tax AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS DOUBLE) AS ss_t,
          CAST(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sp_q_e,
          CAST(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS sp_q_di,
          CAST(SUM(CAST(l_quantity AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS DOUBLE) AS sp_q_t,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_discount AS DECIMAL(19,6))) AS DOUBLE) AS sp_e_di,
          CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS DOUBLE) AS sp_e_t,
          CAST(SUM(CAST(l_discount AS DECIMAL(19,6)) * CAST(l_tax AS DECIMAL(19,6))) AS DOUBLE) AS sp_di_t
        FROM lineitem)
        SELECT col_x, col_y, r FROM (
          SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
            round((n * sp_q_e - s_q * s_e) /
              sqrt((n * ss_q - s_q * s_q) * (n * ss_e - s_e * s_e)), 6) AS r
          FROM a
          UNION ALL SELECT 'l_quantity', 'l_discount',
            round((n * sp_q_di - s_q * s_di) /
              sqrt((n * ss_q - s_q * s_q) * (n * ss_di - s_di * s_di)), 6)
          FROM a
          UNION ALL SELECT 'l_quantity', 'l_tax',
            round((n * sp_q_t - s_q * s_t) /
              sqrt((n * ss_q - s_q * s_q) * (n * ss_t - s_t * s_t)), 6)
          FROM a
          UNION ALL SELECT 'l_extendedprice', 'l_discount',
            round((n * sp_e_di - s_e * s_di) /
              sqrt((n * ss_e - s_e * s_e) * (n * ss_di - s_di * s_di)), 6)
          FROM a
          UNION ALL SELECT 'l_extendedprice', 'l_tax',
            round((n * sp_e_t - s_e * s_t) /
              sqrt((n * ss_e - s_e * s_e) * (n * ss_t - s_t * s_t)), 6)
          FROM a
          UNION ALL SELECT 'l_discount', 'l_tax',
            round((n * sp_di_t - s_di * s_t) /
              sqrt((n * ss_di - s_di * s_di) * (n * ss_t - s_t * s_t)), 6)
          FROM a)
        ORDER BY col_x, col_y""")),

    // ---- Chi-square independence (categorical association audit) -----------
    // Contingency table returnflag × linestatus with per-cell χ² terms:
    // contrib = (O·n − rt·ct)² / (n·rt·ct) — the (O−E)²/E identity in
    // integer numerators. Terms assemble in DOUBLE with one shared
    // expression tree (the squared numerator exceeds 2⁵³ so the double
    // rounds, but identically on both engines — deterministic IEEE on
    // identical inputs), round into 1e-6 fixed point per CELL, and the
    // χ² total is the integer sum of those fixed-point longs windowed
    // over all cells — order-independent, hash-exact. The curation use:
    // quantifying label/source dependence before stratifying a split.
    // Scale shape: one grouped count + two tiny re-aggregations + a
    // |cells|-row window — everything after the first groupBy is
    // dimension-table sized.
    QueryDef(
      "x_chi2_independence",
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.expressions.Window
        val cells = Tables.lineitem(s, d)
          .groupBy($"l_returnflag", $"l_linestatus")
          .agg(count(lit(1)).as("o"))
        val rt = cells.groupBy($"l_returnflag").agg(sum($"o").as("rt"))
        val ct = cells.groupBy($"l_linestatus").agg(sum($"o").as("ct"))
        val n = cells.agg(sum($"o").as("n"))
        val contrib = cells
          .join(broadcast(rt), Seq("l_returnflag"))
          .join(broadcast(ct), Seq("l_linestatus"))
          .crossJoin(broadcast(n))
          .withColumn("contrib_fp", round(
            ($"o".cast("double") * $"n" - $"rt".cast("double") * $"ct") *
              ($"o".cast("double") * $"n" - $"rt".cast("double") * $"ct") /
              ($"n".cast("double") * $"rt" * $"ct") * 1e6, 0).cast("long"))
        contrib
          .select($"l_returnflag", $"l_linestatus", $"o",
            round($"contrib_fp".cast("double") / 1e6, 6).as("contrib"),
            round(sum($"contrib_fp").over(Window.partitionBy())
              .cast("double") / 1e6, 6).as("chi2"))
          .orderBy($"l_returnflag", $"l_linestatus")
      },
      Some("""WITH cells AS (
          SELECT l_returnflag, l_linestatus, COUNT(*) AS o
          FROM lineitem GROUP BY l_returnflag, l_linestatus),
        rt AS (SELECT l_returnflag, SUM(o) AS rt FROM cells GROUP BY 1),
        ct AS (SELECT l_linestatus, SUM(o) AS ct FROM cells GROUP BY 1),
        n AS (SELECT SUM(o) AS n FROM cells),
        c2 AS (SELECT c.l_returnflag, c.l_linestatus, c.o,
            CAST(round(
              (CAST(c.o AS DOUBLE) * n.n - CAST(rt.rt AS DOUBLE) * ct.ct) *
              (CAST(c.o AS DOUBLE) * n.n - CAST(rt.rt AS DOUBLE) * ct.ct) /
              (CAST(n.n AS DOUBLE) * rt.rt * ct.ct) * 1000000)
              AS BIGINT) AS contrib_fp
          FROM cells c
          JOIN rt USING (l_returnflag)
          JOIN ct USING (l_linestatus), n)
        SELECT l_returnflag, l_linestatus, o,
          round(CAST(contrib_fp AS DOUBLE) / 1000000, 6) AS contrib,
          round(CAST(SUM(contrib_fp) OVER () AS DOUBLE) / 1000000, 6) AS chi2
        FROM c2 ORDER BY l_returnflag, l_linestatus""")),

    // ---- Spearman rank correlation (monotonic-association audit) -----------
    // Spearman ρ = Pearson over average ranks, tie-aware. Ranks come from
    // the VALUE-FREQUENCY table, not a row-level global sort: per distinct
    // value, avg rank = cum_count_before + (cnt+1)/2 — the rank window
    // runs over |distinct values| rows (tiny), and rows get their rank by
    // an equi-join on the value. DOUBLED ranks (2·cum + cnt + 1) keep
    // everything integer until the decimal-exact sum stage; the ρ
    // assembly reuses the x_corr_matrix contract (decimal sums → one
    // shared double expression). Doubling scales both variables by 2,
    // which cancels in ρ exactly. The audit Pearson misses: monotonic but
    // non-linear dependence (quality score vs log length). Scale shape:
    // two value-keyed groupBy counts + windows over distinct values +
    // two value equi-joins + one map-side-combined sum aggregate — no
    // global row sort anywhere.
    QueryDef(
      "x_spearman",
      (s, d) => {
        import s.implicits._
        def ranks(c: String, out: String) = {
          val vf = Tables.lineitem(s, d).groupBy(col(c))
            .agg(count(lit(1)).as("cnt"))
          // exclusive prefix count via the DISTRIBUTED two-phase scan
          // (operators/PrefixSum) — a bare Window.orderBy here would
          // collapse the whole value-frequency table into one partition,
          // exactly the bottleneck this query's scaladoc promises to avoid
          graft.operators.PrefixSum
            .exclusivePrefixSum(vf, c, "cnt", "cumb")
            .select(col(c),
              ($"cumb" * 2 + $"cnt" + 1).cast("decimal(19,6)").as(out))
        }
        val withRanks = Tables.lineitem(s, d)
          .select($"l_quantity", $"l_extendedprice")
          .join(ranks("l_quantity", "rx"), Seq("l_quantity"))
          .join(ranks("l_extendedprice", "ry"), Seq("l_extendedprice"))
        withRanks.agg(
            count(lit(1)).cast("double").as("n"),
            sum($"rx").cast("double").as("sx"),
            sum($"ry").cast("double").as("sy"),
            sum($"rx" * $"rx").cast("double").as("sxx"),
            sum($"ry" * $"ry").cast("double").as("syy"),
            sum($"rx" * $"ry").cast("double").as("sxy"))
          .select(lit("l_quantity").as("col_x"),
            lit("l_extendedprice").as("col_y"),
            round(($"n" * $"sxy" - $"sx" * $"sy") /
              sqrt(($"n" * $"sxx" - $"sx" * $"sx") *
                ($"n" * $"syy" - $"sy" * $"sy")), 6).as("rho"))
      },
      Some("""WITH rx AS (
          SELECT l_quantity,
            CAST((COALESCE(SUM(cnt) OVER (ORDER BY l_quantity
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) * 2
              + cnt + 1 AS DECIMAL(19,6)) AS rx
          FROM (SELECT l_quantity, COUNT(*) AS cnt FROM lineitem GROUP BY 1)),
        ry AS (
          SELECT l_extendedprice,
            CAST((COALESCE(SUM(cnt) OVER (ORDER BY l_extendedprice
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)) * 2
              + cnt + 1 AS DECIMAL(19,6)) AS ry
          FROM (SELECT l_extendedprice, COUNT(*) AS cnt FROM lineitem GROUP BY 1)),
        j AS (SELECT rx.rx, ry.ry FROM lineitem l
          JOIN rx USING (l_quantity) JOIN ry USING (l_extendedprice)),
        a AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
            CAST(SUM(rx) AS DOUBLE) AS sx, CAST(SUM(ry) AS DOUBLE) AS sy,
            CAST(SUM(rx * rx) AS DOUBLE) AS sxx,
            CAST(SUM(ry * ry) AS DOUBLE) AS syy,
            CAST(SUM(rx * ry) AS DOUBLE) AS sxy
          FROM j)
        SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
          round((n * sxy - sx * sy) /
            sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS rho
        FROM a""")),

    // ---- Data-quality check suite (the dbt-test / expectations analog) -----
    // One row per declared constraint with its violation count: primary-key
    // uniqueness (o_orderkey), referential integrity (orders.o_custkey ⊆
    // customer, lineitem.l_orderkey ⊆ orders), NOT-NULL (o_orderdate),
    // domain membership (o_orderstatus ∈ {O,F,P}), and value range
    // (l_discount ∈ [0,1], l_quantity > 0). The gate contract a pipeline
    // promotes to a circuit breaker before training data ships. Scale
    // shape: uniqueness is one groupBy HAVING>1 count; each FK is a
    // LEFT-ANTI join on the key (broadcast when the parent is
    // dimension-sized, shuffle otherwise); null/domain/range checks are
    // map-only conditional counts — every check is one pass, and all
    // checks over the same table share their scan.
    QueryDef(
      "x_dq_checks",
      (s, d) => {
        import s.implicits._
        val ord = Tables.orders(s, d)
        val li = Tables.lineitem(s, d)
        val cust = Tables.customer(s, d)
        val dupPk = ord.groupBy($"o_orderkey").agg(count(lit(1)).as("c"))
          .filter($"c" > 1).agg(count(lit(1)).as("violations"))
          .select(lit("orders_pk_unique").as("check_name"), $"violations")
        val fkCust = ord.join(cust,
            $"o_custkey" === $"c_custkey", "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit("orders_custkey_fk").as("check_name"), $"violations")
        val fkOrd = li.join(ord,
            $"l_orderkey" === $"o_orderkey", "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit("lineitem_orderkey_fk").as("check_name"), $"violations")
        val scans = ord.agg(
            sum(when($"o_orderdate".isNull, 1L).otherwise(0L))
              .as("date_null"),
            sum(when(!$"o_orderstatus".isin("O", "F", "P"), 1L)
              .otherwise(0L)).as("status_domain"))
        val liScans = li.agg(
            sum(when($"l_discount" < 0 || $"l_discount" > 1, 1L)
              .otherwise(0L)).as("discount_range"),
            sum(when($"l_quantity" <= 0, 1L).otherwise(0L))
              .as("quantity_positive"))
        val scanRows = scans.selectExpr(
          """stack(2,
            |  'orders_orderdate_not_null', date_null,
            |  'orders_status_domain', status_domain) AS (check_name, violations)"""
            .stripMargin)
        val liRows = liScans.selectExpr(
          """stack(2,
            |  'lineitem_discount_range', discount_range,
            |  'lineitem_quantity_positive', quantity_positive)
            |  AS (check_name, violations)""".stripMargin)
        dupPk.unionByName(fkCust).unionByName(fkOrd)
          .unionByName(scanRows).unionByName(liRows)
          .withColumn("passed", $"violations" === 0L)
          .orderBy($"check_name")
      },
      Some("""SELECT check_name, violations, violations = 0 AS passed FROM (
          SELECT 'orders_pk_unique' AS check_name, COUNT(*) AS violations FROM (
            SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1)
          UNION ALL
          SELECT 'orders_custkey_fk', COUNT(*) FROM orders o
          WHERE NOT EXISTS (SELECT 1 FROM customer c
            WHERE c.c_custkey = o.o_custkey)
          UNION ALL
          SELECT 'lineitem_orderkey_fk', COUNT(*) FROM lineitem l
          WHERE NOT EXISTS (SELECT 1 FROM orders o
            WHERE o.o_orderkey = l.l_orderkey)
          UNION ALL
          SELECT 'orders_orderdate_not_null',
            CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
              AS BIGINT) FROM orders
          UNION ALL
          SELECT 'orders_status_domain',
            CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
              THEN 1 ELSE 0 END) AS BIGINT) FROM orders
          UNION ALL
          SELECT 'lineitem_discount_range',
            CAST(SUM(CASE WHEN l_discount < 0 OR l_discount > 1
              THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
          UNION ALL
          SELECT 'lineitem_quantity_positive',
            CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
              AS BIGINT) FROM lineitem)
        ORDER BY check_name""")),

    // ---- Event-gap detection (freshness / completeness monitoring) ---------
    // Hours in the corpus's [min, max] event-time span where an
    // event_type produced ZERO events: a generated calendar spine
    // cross-joined with the type dimension, LEFT-ANTI against the
    // observed (type, hour) pairs. The monitoring query behind every
    // "did ingestion stall?" alert. Scale shape: the spine is
    // |hours|×|types| rows (tiny — generated, not scanned), the observed
    // set is one map-side-combined distinct over the fact table, and the
    // anti-join broadcasts the observed AGGREGATE per type-hour — never
    // the events.
    QueryDef(
      "x_gap_detection",
      (s, d) => {
        import s.implicits._
        // ONE scan of the fact table: everything else (span, type dim,
        // spine) derives from the tiny distinct (type, hour) frame — the
        // BENCH_SCALE r14_events_bucketing showed the old 3-scan form
        // paying the multi-file read thrice under the bucketed layout for
        // data the distinct already summarizes
        val observed = Tables.events(s, d)
          .select($"event_type", date_trunc("hour", $"ts").as("h"))
          .distinct()
        val span = observed.agg(min($"h").as("h_min"), max($"h").as("h_max"))
        val types = observed.select($"event_type").distinct()
        val spine = types.crossJoin(broadcast(span))
          .select($"event_type",
            explode(sequence($"h_min", $"h_max",
              expr("interval 1 hour"))).as("h"))
        spine.join(observed, Seq("event_type", "h"), "left_anti")
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_gap_hours"),
            date_format(min($"h"), "yyyy-MM-dd HH:mm").as("first_gap"))
          .orderBy($"event_type")
      },
      Some("""WITH ev AS (SELECT event_type,
            date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h FROM events),
        span AS (SELECT MIN(h) AS h_min, MAX(h) AS h_max FROM ev),
        spine AS (SELECT t.event_type, g.h
          FROM (SELECT DISTINCT event_type FROM ev) t,
            (SELECT unnest(generate_series(h_min, h_max,
              INTERVAL 1 HOUR)) AS h FROM span) g),
        obs AS (SELECT DISTINCT event_type, h FROM ev)
        SELECT s.event_type, COUNT(*) AS n_gap_hours,
          strftime(MIN(s.h), '%Y-%m-%d %H:%M') AS first_gap
        FROM spine s LEFT JOIN obs o
          ON s.event_type = o.event_type AND s.h = o.h
        WHERE o.event_type IS NULL
        GROUP BY s.event_type ORDER BY s.event_type""")),

    // ---- Join-key skew profiler (the salting decision's input) -------------
    // Per join-key family, the numbers the SkewJoin decision table needs
    // BEFORE the join runs: distinct keys, rows, the hottest key's count,
    // and the skew ratio hot/mean in 1e-6 fixed point (hot·distinct·1e6
    // div rows — integer, hash-exact). A ratio near 1e6 means uniform
    // (hash-partition and go); orders of magnitude above means salt the
    // hot keys or broadcast the other side. One groupBy count + a 1-row
    // max per family — the profile costs one map-side-combined pass per
    // key column, which is what makes it runnable as a pre-flight check
    // at 100 TB.
    QueryDef(
      "x_skew_profile",
      (s, d) => {
        import s.implicits._
        def profile(df: org.apache.spark.sql.DataFrame, key: String,
            fam: String) = {
          val kc = df.groupBy(col(key).as("k"))
            .agg(count(lit(1)).as("c"))
          kc.agg(count(lit(1)).as("n_keys"), sum($"c").as("n_rows"),
              max($"c").as("hot"))
            .select(lit(fam).as("key_family"), $"n_keys", $"n_rows",
              $"hot",
              expr("(hot * n_keys * 1000000) div n_rows").as("skew_fp"))
        }
        profile(Tables.lineitem(s, d), "l_orderkey", "lineitem.orderkey")
          .unionByName(
            profile(Tables.orders(s, d), "o_custkey", "orders.custkey"))
          .unionByName(
            profile(Tables.events(s, d), "user_id", "events.user_id"))
          .unionByName(
            profile(Tables.events(s, d), "event_type", "events.event_type"))
          .orderBy($"key_family")
      },
      Some("""SELECT key_family, n_keys, n_rows, hot,
          (hot * n_keys * 1000000) // n_rows AS skew_fp FROM (
          SELECT 'lineitem.orderkey' AS key_family, COUNT(*) AS n_keys,
            CAST(SUM(c) AS BIGINT) AS n_rows, MAX(c) AS hot FROM (
            SELECT l_orderkey, COUNT(*) AS c FROM lineitem GROUP BY 1)
          UNION ALL
          SELECT 'orders.custkey', COUNT(*), CAST(SUM(c) AS BIGINT), MAX(c) FROM (
            SELECT o_custkey, COUNT(*) AS c FROM orders GROUP BY 1)
          UNION ALL
          SELECT 'events.user_id', COUNT(*), CAST(SUM(c) AS BIGINT), MAX(c) FROM (
            SELECT user_id, COUNT(*) AS c FROM events GROUP BY 1)
          UNION ALL
          SELECT 'events.event_type', COUNT(*), CAST(SUM(c) AS BIGINT), MAX(c) FROM (
            SELECT event_type, COUNT(*) AS c FROM events GROUP BY 1))
        ORDER BY key_family""")),

    // ---- Sampled aggregation (Horvitz-Thompson) -----------------------------
    // The "answer over 100 TB by reading 1/16th of it" primitive: a
    // DETERMINISTIC Bernoulli sample (first md5 hex nibble of the row key
    // == '0' → inclusion probability p = 1/16, the x_hash_split
    // convention, so both engines draw the IDENTICAL sample and the gate
    // stays hash-exact) feeds a per-group HT estimator (sampled sum ÷ p),
    // emitted NEXT TO the exact arm so the estimator's realized relative
    // error is driver-visible data, not a claim. At 100 TB the exact arm
    // is the one you delete: the sample predicate pushes to the scan (a
    // deterministic function of key columns — at rest you'd persist the
    // sample as its own partition and prune, same math), and the
    // estimate costs 1/16th the I/O with ~sqrt((1-p)/(p·n))·CV relative
    // error — sub-1% for any group with ≥100k sampled rows, i.e. every
    // group that matters at scale. in_bound (realized error ≤ 25%, wide
    // enough to hold at the tiny sf0.001 groups where n_sampled ≈ 120)
    // is RE-DERIVED by the oracle from the same exact arithmetic — both
    // engines compute the same md5 sample, the same DECIMAL-exact sums,
    // and the same double division, so the flag carries no luck and no
    // hardcoding. Scale shape: one map-side-combined groupBy over 3 flag
    // groups; the sample indicator is a per-row codegen'd expression.
    QueryDef(
      "x_sampled_agg",
      (s, d) => {
        import s.implicits._
        val keyNib = substring(
          md5(concat_ws("_", $"l_orderkey", $"l_linenumber")), 1, 1)
        val inSample = when(keyNib === "0", 1L).otherwise(0L)
        val qtyDec = $"l_quantity".cast("decimal(18,2)")
        val zeroDec = lit(0).cast("decimal(18,2)")
        Tables.lineitem(s, d)
          .groupBy($"l_returnflag")
          .agg(
            count(lit(1)).as("n_exact"),
            (sum(inSample) * 16).as("n_est"),
            sum(qtyDec).cast("double").as("sum_qty_exact"),
            (sum(when(inSample === 1L, qtyDec).otherwise(zeroDec)) * 16)
              .cast("double").as("sum_qty_est"))
          .withColumn("rel_err_pct",
            round(abs($"sum_qty_est" - $"sum_qty_exact")
              / $"sum_qty_exact" * 100, 2))
          .withColumn("in_bound", $"rel_err_pct" <= 25.0)
          .orderBy($"l_returnflag")
      },
      Some("""WITH t AS (
          SELECT l_returnflag,
            CASE WHEN substring(md5(CONCAT(CAST(l_orderkey AS VARCHAR), '_',
              CAST(l_linenumber AS VARCHAR))), 1, 1) = '0'
              THEN 1 ELSE 0 END AS in_sample,
            CAST(l_quantity AS DECIMAL(18,2)) AS qty
          FROM lineitem),
        g AS (
          SELECT l_returnflag,
            COUNT(*) AS n_exact,
            CAST(SUM(in_sample) * 16 AS BIGINT) AS n_est,
            CAST(SUM(qty) AS DOUBLE) AS sum_qty_exact,
            CAST(SUM(CASE WHEN in_sample = 1 THEN qty
              ELSE CAST(0 AS DECIMAL(18,2)) END) * 16 AS DOUBLE) AS sum_qty_est
          FROM t GROUP BY l_returnflag)
        SELECT l_returnflag, n_exact, n_est, sum_qty_exact, sum_qty_est,
          round(abs(sum_qty_est - sum_qty_exact) / sum_qty_exact * 100, 2)
            AS rel_err_pct,
          round(abs(sum_qty_est - sum_qty_exact) / sum_qty_exact * 100, 2)
            <= 25.0 AS in_bound
        FROM g ORDER BY l_returnflag""")),

    // ---- A14: grouped top-k as a bounded-heap AGGREGATE ---------------------
    // Per-group top-k is usually written as
    // row_number().over(partitionBy(g).orderBy(s.desc)) <= k — a plan
    // that shuffles EVERY row to its group's partition and fully sorts
    // each group to keep k rows. graft_topk (a TypedImperativeAggregate
    // carrying a bounded min-heap, functions/TopKPairs.scala) rides the
    // ordinary partial-aggregation machinery instead: each map task
    // retains at most k pairs per group, the exchange moves
    // O(groups × k × map partitions) regardless of corpus size, and no
    // full sort exists anywhere (O(log k) heap update per row). At
    // 100 TB the window plan ships the corpus; this ships kilobytes.
    // The oracle IS the window formulation — same rows, ranks, ties
    // (score DESC, id ASC) — so the gate pins the two plans equivalent.
    // SQL callers get the same kernel as `graft_topk(score, id, k)`
    // via GraftExtensions.
    QueryDef(
      "a14_group_topk",
      (s, d) => {
        import s.implicits._
        Tables.orders(s, d)
          .groupBy($"o_orderpriority")
          .agg(graft.functions.TopKPairs
            .topk($"o_totalprice", $"o_orderkey", 5).as("top"))
          .select($"o_orderpriority", posexplode($"top"))
          .select($"o_orderpriority", ($"pos" + 1).cast("long").as("rank"),
            $"col.id".as("o_orderkey"), $"col.score".as("o_totalprice"))
          .orderBy($"o_orderpriority", $"rank")
      },
      Some("""SELECT o_orderpriority, rank, o_orderkey, o_totalprice FROM (
          SELECT o_orderpriority,
            ROW_NUMBER() OVER (PARTITION BY o_orderpriority
              ORDER BY o_totalprice DESC, o_orderkey) AS rank,
            o_orderkey, o_totalprice
          FROM orders) t WHERE rank <= 5
        ORDER BY o_orderpriority, rank"""))
  )
}
