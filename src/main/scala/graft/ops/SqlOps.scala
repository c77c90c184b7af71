package graft.ops

import graft.Tables
import graft.ops.LlmOps
import org.apache.spark.sql.{DataFrame, SparkSession}

/** §2-M composite SQL queries — multi-join analytical shapes entered as SQL
  * TEXT (`spark.sql` over temp views), proving the full SQL front end
  * composes the operator surface end-to-end: parser → Catalyst join
  * reordering/pushdown → the same physical operators the API keys pin.
  *
  * Scale notes (100 TB): both queries are canonical star joins — selective
  * dim filters (mktsegment, region, date band) reach the scans as pushed
  * predicates, dims broadcast (region/nation/customer are dimension-sized),
  * and the one big shuffle is lineitem⋈orders on the orderkey. The GROUP BY
  * output is bounded (orders for Q3's top-10, 25 nations for Q5), so the
  * final agg never skews. Identical SQL runs on DuckDB — the oracle is the
  * same text modulo timestamp-literal spelling.
  */
object SqlOps {
  type Q = (SparkSession, String) => DataFrame

  /** The base tables as the `<table>_m` temp views the SQL text reads. */
  private val views: Seq[(String, Q)] = Seq(
    "customer_m" -> Tables.customer, "orders_m" -> Tables.orders,
    "lineitem_m" -> Tables.lineitem, "supplier_m" -> Tables.supplier,
    "part_m" -> Tables.part, "nation_m" -> Tables.nation,
    "region_m" -> Tables.region, "events_m" -> Tables.events)

  /** `s.sql(text)` over the views `text` names, registered first; a key
    * resolves only the tables it reads. */
  private def sql(s: SparkSession, d: String, text: String,
                  args: Map[String, Any] = Map.empty): DataFrame = {
    views.foreach { case (v, t) =>
      if (s"\\b$v\\b".r.findFirstIn(text).isDefined) t(s, d).createOrReplaceTempView(v)
    }
    if (args.isEmpty) s.sql(text) else s.sql(text, args)
  }

  /** sql_recursive_cte hop clamp — see the key's doc for why it is
    * smaller than GraphOps.BfsRounds. Shared with the oracle. */
  private[graft] val RecursiveCteRounds = 3

  val queries: Map[String, Q] = graft.Contract.uniqueMap("SqlOps.queries", Seq(
    // TPC-H Q3 shape: shipping-priority revenue — 3-way join, grouped
    // revenue, deterministic top-10 (revenue DESC with unique tiebreaker).
    "sql_q3_shipping" -> ((s, d) => {
      sql(s, d, """
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer_m
        JOIN orders_m   ON c_custkey = o_custkey
        JOIN lineitem_m ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1996-07-01'
          AND l_shipdate  > TIMESTAMP '1996-07-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
      """)
    }),

    // Event-funnel analysis — the classic product-analytics shape over the
    // event log (the reference's query layer served exactly this kind of
    // question): per user, earliest view → first click AFTER it → first
    // purchase after THAT; one row of stage conversion counts. Three
    // user-keyed aggregations + two broadcast-sized joins (per-user stage
    // timestamps are one row each) — no window over the raw log.
    "sql_event_funnel" -> ((s, d) => {
      sql(s, d, """
        WITH v AS (
          SELECT user_id, min(ts) AS ts_v FROM events_m
          WHERE event_type = 'view' GROUP BY user_id),
        c AS (
          SELECT e.user_id, min(e.ts) AS ts_c
          FROM events_m e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.ts_v
          GROUP BY e.user_id),
        p AS (
          SELECT e.user_id, min(e.ts) AS ts_p
          FROM events_m e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.ts_c
          GROUP BY e.user_id)
        SELECT (SELECT count(*) FROM v) AS n_view,
               (SELECT count(*) FROM c) AS n_click_after_view,
               (SELECT count(*) FROM p) AS n_purchase_after_click
      """)
    }),

    // Cohort retention over the event log: users active in a week who are
    // active again the following week, per cohort week. distinct
    // (user, week) pairs → one self-join on (user, week+7d) → per-week
    // counts; at 100 TB the distinct is the only raw-log shuffle and it
    // pre-aggregates map-side.
    "sql_retention_cohort" -> ((s, d) => {
      sql(s, d, """
        WITH uw AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events_m)
        SELECT a.wk AS cohort_week,
               count(*) AS n_active,
               CAST(count(b.user_id) AS BIGINT) AS n_retained,
               round(count(b.user_id) / CAST(count(*) AS DOUBLE), 4) AS retention
        FROM uw a
        LEFT JOIN uw b
          ON a.user_id = b.user_id AND b.wk = a.wk + INTERVAL 7 DAYS
        GROUP BY a.wk
        ORDER BY cohort_week
      """)
    }),

    // Correlated scalar subquery (TPC-H Q17 flavor): lineitems priced above
    // 1.5× their part's average. Catalyst decorrelates the subquery into an
    // aggregate + join (RewriteCorrelatedScalarSubquery) — the same plan a
    // hand-written join would give, proving subquery SQL costs nothing at
    // scale. Output re-aggregated per part for determinism.
    "sql_correlated_scalar" -> ((s, d) => {
      sql(s, d, """
        SELECT l_partkey, count(*) AS n_above,
               round(sum(l_extendedprice), 2) AS rev_above
        FROM lineitem_m l1
        WHERE l_extendedprice > round(1.5 * (
          SELECT avg(l_extendedprice) FROM lineitem_m l2
          WHERE l2.l_partkey = l1.l_partkey), 4)
        GROUP BY l_partkey
        ORDER BY l_partkey
      """)
    }),

    // TPC-H Q5 shape: local-supplier revenue per nation — 6-way star join
    // (customer and supplier must share the nation), region + date filters.
    "sql_q5_local_revenue" -> ((s, d) => {
      sql(s, d, """
        SELECT n_name,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer_m
        JOIN orders_m   ON c_custkey = o_custkey
        JOIN lineitem_m ON l_orderkey = o_orderkey
        JOIN supplier_m ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        JOIN nation_m   ON s_nationkey = n_nationkey
        JOIN region_m   ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1997-01-01'
        GROUP BY n_name
        ORDER BY revenue DESC, n_name
      """)
    }),

    // TPC-H Q18 shape: large-quantity orders — a HAVING-qualified
    // aggregation feeding a semi-join back into the star join. Catalyst
    // plans the IN subquery as a LeftSemi against the grouped lineitem
    // aggregate; the qualifying-orderkey side is tiny BY CONSTRUCTION
    // (HAVING > 250 keeps ~1% of orders), so AQE converts the semi-join to
    // a broadcast at runtime — the big tables shuffle once for their own
    // join, never for the qualification.
    "sql_q18_large_orders" -> ((s, d) => {
      sql(s, d, """
        SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
               round(sum(l_quantity), 2) AS total_qty
        FROM customer_m
        JOIN orders_m   ON c_custkey = o_custkey
        JOIN lineitem_m ON o_orderkey = l_orderkey
        WHERE o_orderkey IN (
          SELECT l_orderkey FROM lineitem_m
          GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100
      """)
    }),

    // LATERAL correlated subquery — per-row top-k entered the way SQL
    // users write it (the alternative spelling of topk_per_group's
    // window). Catalyst decorrelates the LATERAL into a join/window plan
    // — the correlated per-row subquery costs nothing extra at scale.
    // Scoped to one mktsegment's customers so output stays bounded.
    "sql_lateral_topk" -> ((s, d) => {
      sql(s, d, """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer_m c,
        LATERAL (
          SELECT o_orderkey, o_totalprice FROM orders_m o
          WHERE o.o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 2
        ) t
        WHERE c.c_mktsegment = 'MACHINERY'
        ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey
      """)
    }),

    // Recursive CTE (Spark 4.1 WITH RECURSIVE → UnionLoop/UnionLoopExec):
    // the graph_bfs hop walk entered as SQL TEXT over the same sparse
    // repeat-trade graph, identical text in DuckDB. Spark 4.1 supports
    // only UNION ALL recursion (UNION dedup is rejected by the parser), so
    // this is WALK enumeration — each round re-emits every extension of
    // every walk, and the final GROUP BY min(dist) collapses walks to BFS
    // distances. Correct under the clamp (every ≤cap-hop node is reached
    // by some ≤cap walk), but the intermediate is Σ_k (avg-degree)^k rows
    // — exponential in the CLAMP, not in graph size, and measured brutal
    // on the dense-hub sf0.001 graph (cap 6 = 499M walks, past Spark's 1M
    // recursion row limit; cap 3 = 6.5k). Hence [[RecursiveCteRounds]] = 3
    // rather than graph_bfs's 6: the key pins the WITH RECURSIVE surface
    // (UnionLoopExec, PlanSpec), and on cyclic graphs deep traversal
    // belongs to the iterative frontier loop (graph_bfs: one nodes-sized
    // frame, anti-join dedup per round) — that is the scale path.
    //
    // r14: the EDGE DERIVATION (lineitem⋈orders + group-filter) is staged
    // as a cached view OUTSIDE the recursion. UnionLoop re-evaluates every
    // relation the recursive arm references on EACH iteration, so with the
    // derivation inline the loop re-ran the corpus join once per round —
    // at sf0.1 that was 4 × the join cost for a 364-edge graph (9.8 s,
    // 5% of the whole bench; VERDICT r13 #8). Never derive the base
    // relation inside the loop: the walk itself is milliseconds.
    "sql_recursive_cte" -> ((s, d) => {
      val e = GraphOps.repeatTradeEdges(s, d).cache()
      graft.GraftCaches.track(e)
      e.createOrReplaceTempView("walk_edges_m")
      s.sql(s"""
        WITH RECURSIVE
        seed AS (SELECT min(src) AS node FROM walk_edges_m),
        reach(node, dist) AS (
          SELECT node, 0 FROM seed
          UNION ALL
          SELECT e.dst, r.dist + 1
          FROM reach r JOIN walk_edges_m e ON e.src = r.node
          WHERE r.dist < $RecursiveCteRounds)
        SELECT node, CAST(min(dist) AS INT) AS dist
        FROM reach GROUP BY node ORDER BY node
      """)
    }),

    // TPC-H Q7 shape: volume shipping between two nations — the dual-role
    // dimension pattern (nation joined TWICE under different aliases, once
    // through supplier, once through customer) with a symmetric disjunctive
    // pair filter. Catalyst broadcasts both nation sides (25 rows each) and
    // pushes nothing of the pair predicate to the fact scan — by design:
    // the predicate needs both sides, so it evaluates right after the two
    // broadcast joins, before the one real shuffle (the grouped agg).
    "sql_q7_volume" -> ((s, d) => {
      sql(s, d, """
        SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
               year(l_shipdate) AS l_year,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM supplier_m
        JOIN lineitem_m ON s_suppkey = l_suppkey
        JOIN orders_m   ON o_orderkey = l_orderkey
        JOIN customer_m ON c_custkey = o_custkey
        JOIN nation_m n1 ON s_nationkey = n1.n_nationkey
        JOIN nation_m n2 ON c_nationkey = n2.n_nationkey
        WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
           OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
        GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
        ORDER BY supp_nation, cust_nation, l_year
      """)
    }),

    // TPC-H Q10 shape: returned-item revenue ranking — star join filtered
    // by a date band (pushed to the orders scan) and a returnflag predicate
    // (pushed to the lineitem scan), grouped per customer, deterministic
    // top-20. The group key includes the customer attributes, which is free:
    // they are functionally dependent on c_custkey, so the hash-agg key is
    // effectively one long. The revenue sum runs in DECIMAL: this key's
    // double sum landed exactly on a 2dp rounding boundary (….515) at
    // sf0.01, where reassociation noise flips the cent — decimal
    // accumulation is order-independent, so the result is deterministic by
    // construction (and is how money should be summed anyway); the final
    // cast back to DOUBLE keeps the cross-engine output type aligned.
    "sql_q10_returns" -> ((s, d) => {
      sql(s, d, """
        SELECT c_custkey, c_name, n_name,
               CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                              * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                    AS DOUBLE) AS revenue
        FROM customer_m
        JOIN orders_m   ON c_custkey = o_custkey
        JOIN lineitem_m ON l_orderkey = o_orderkey
        JOIN nation_m   ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-07-01'
          AND l_returnflag = 'R'
          -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
          AND (l_discount IS NULL OR
               (NOT isnan(l_discount) AND abs(l_discount) < CAST('Infinity' AS DOUBLE)))
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
      """)
    }),

    // TPC-H Q19 shape: disjunctive OR-of-ANDs join predicate — the classic
    // pushdown stressor. Catalyst splits the OR tree per table and pushes
    // each side's full disjunction to its scan: the lineitem scan gets the
    // OR of the three quantity bands, the part scan the OR of the three
    // brand∧size conjunctions (both visible as `Or(...)` PushedFilters —
    // PlanSpec pins it), so at 100 TB parquet row-group stats prune on the
    // quantity bands before the join rather than filtering after it. OR
    // does not disable pushdown when every arm constrains the same scan.
    "sql_q19_disjunctive" -> ((s, d) => {
      sql(s, d, """
        SELECT p_brand, count(*) AS n,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM lineitem_m
        JOIN part_m ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1  AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
        GROUP BY p_brand
        ORDER BY p_brand
      """)
    }),

    // Quantified subqueries: EXISTS (TPC-H Q4 shape — orders with at least
    // one near-max-quantity item, per priority) and NOT IN (customers who
    // never placed an URGENT order). Catalyst plans EXISTS as a left-semi
    // join against the correlated side and NOT IN as a null-aware anti
    // join — both shuffle-on-key plans, never per-row subquery execution;
    // the two arms union into one (grp, n) frame (the Z- prefix keeps the
    // synthetic row ordered after the priorities).
    "sql_exists_in" -> ((s, d) => {
      sql(s, d, """
        WITH q4 AS (
          SELECT o_orderpriority AS grp, count(*) AS n
          FROM orders_m o
          WHERE EXISTS (SELECT 1 FROM lineitem_m l
                        WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
          GROUP BY o_orderpriority),
        cold AS (
          SELECT 'Z-NO-URGENT-CUST' AS grp, count(*) AS n
          FROM customer_m
          WHERE c_custkey NOT IN
            (SELECT o_custkey FROM orders_m WHERE o_orderpriority = '1-URGENT'))
        SELECT grp, n FROM (SELECT * FROM q4 UNION ALL SELECT * FROM cold) u
        ORDER BY grp
      """)
    }),

    // SQL SESSION VARIABLES (Spark 4 DECLARE/SET VARIABLE) — the dynamic
    // query-text knob between hardcoded literals and full parameterized
    // statements (sql_parameterized covers those): a typed, session-
    // scoped variable referenced by name inside any later query —
    // dashboards and notebook workflows set thresholds exactly this way.
    // Variables resolve at ANALYSIS time to their current value, so the
    // plan constant-folds and predicate-pushes as if the literal were
    // inlined — which is also why the oracle IS the inlined literal.
    // DECLARE OR REPLACE keeps repeat invocations idempotent.
    "sql_session_variable" -> ((s, d) => {
      s.sql("DECLARE OR REPLACE VARIABLE graft_price_floor DOUBLE DEFAULT 0.0")
      s.sql("SET VARIABLE graft_price_floor = 350000.0")
      sql(s, d, """
        SELECT o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS rev
        FROM orders_m
        WHERE o_totalprice > graft_price_floor
        GROUP BY 1
        ORDER BY 1
      """)
    }),

    // LIMIT … OFFSET pagination — page 3 of the price-ranked order list.
    // Correct only over a TOTAL order (the tiebreaker matters: a
    // non-unique ORDER BY makes page boundaries nondeterministic and rows
    // duplicate/vanish across pages — the classic pagination bug, which
    // the unique o_orderkey tiebreaker here rules out). Spark plans the
    // pair as one GlobalLimit(offset+limit) over a TakeOrdered-style
    // partial top-k — rows 1..60 are never materialized to the driver,
    // and at any scale the cost is O(offset+limit) per partition, which
    // is also why DEEP offsets are an anti-pattern (keyset pagination —
    // WHERE key > last_seen — is the 100 TB shape; this key is the
    // bounded-page form).
    "sql_limit_offset" -> ((s, d) => {
      sql(s, d, """
        SELECT o_orderkey, o_totalprice, o_orderpriority
        FROM orders_m
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 20 OFFSET 40
      """)
    }),

    // EXISTS under a DISJUNCTION — the mark-join shape. sql_exists_in's
    // conjunctive EXISTS rewrites to a plain LeftSemi (rows are FILTERED
    // by the subquery), but under OR the subquery's truth value must be
    // ANNOTATED per row and the filter decided afterwards — neither semi
    // nor anti can express that, so Catalyst plans an ExistenceJoin
    // (exists#N flag column; DuckDB independently invented the same
    // operator as its MARK join). Still a shuffle-on-key hash join against
    // the filtered orders side — one probe per customer, never per-row
    // subquery execution, no fanout (the flag is set at most once however
    // many urgent orders match). PlanSpec pins ExistenceJoin in the
    // optimized plan.
    "sql_exists_mark" -> ((s, d) => {
      sql(s, d, """
        SELECT c_custkey, c_acctbal
        FROM customer_m c
        WHERE c_acctbal < 0
           OR EXISTS (SELECT 1 FROM orders_m o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT'
                        AND o.o_totalprice > 250000)
        ORDER BY c_custkey
      """)
    }),

    // The SQL PIVOT clause — agg_pivot's DataFrame twin entered as query
    // text (the parser surface a SQL user actually hits). Same scale
    // property as the API form: the IN list is EXPLICIT, so this is one
    // hash-aggregate with no distinct-values discovery job, and the
    // output width is fixed at plan time (an open-ended pivot at 100 TB
    // means an extra corpus pass just to learn the columns).
    "sql_pivot_clause" -> ((s, d) => {
      sql(s, d, """
        SELECT * FROM (
          SELECT year(o_orderdate) AS yr, o_orderpriority, o_totalprice
          FROM orders_m
          -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
          WHERE (o_totalprice IS NULL OR
               (NOT isnan(o_totalprice) AND abs(o_totalprice) < CAST('Infinity' AS DOUBLE))))
        PIVOT (
          round(sum(o_totalprice), 2)
          FOR o_orderpriority IN ('1-URGENT' AS urgent, '3-MEDIUM' AS medium, '5-LOW' AS low))
        ORDER BY yr
      """)
    }),

    // The SQL UNPIVOT clause — agg_unpivot's parser-surface twin and
    // sql_pivot_clause's inverse: the wide conditional-aggregate frame
    // (yr × 3 priority-band sums) folds back to long form. UNPIVOT is
    // pure plan sugar — it compiles to one generator (Expand) over the
    // wide rows, no shuffle beyond the agg that built them; NULL cells
    // (a year missing a band) are dropped by default, which is exactly
    // the long form a direct GROUP BY produces — the oracle states that
    // equivalence.
    "sql_unpivot_clause" -> ((s, d) => {
      sql(s, d, """
        SELECT yr, band, rev FROM (
          SELECT CAST(year(o_orderdate) AS INT) AS yr,
                 round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS urgent,
                 round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS medium,
                 round(sum(CASE WHEN o_orderpriority = '5-LOW'    THEN o_totalprice END), 2) AS low
          FROM orders_m
          -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
          WHERE (o_totalprice IS NULL OR
               (NOT isnan(o_totalprice) AND abs(o_totalprice) < CAST('Infinity' AS DOUBLE)))
          GROUP BY 1)
        UNPIVOT (rev FOR band IN (urgent, medium, low))
        ORDER BY yr, band
      """)
    }),

    // SELECT * EXCEPT + ORDER BY ALL — the two ergonomic star-modifiers a
    // wide-table user hits daily (projecting 400-of-402 columns by hand is
    // how wrong-column bugs happen; EXCEPT keeps the pruned ReadSchema
    // benefits of an explicit list without spelling it). ORDER BY ALL
    // orders by every output column left-to-right — a total order for
    // free, which is exactly the determinism the cross-engine gate needs.
    // DuckDB spells the same pair EXCLUDE / ORDER BY ALL.
    "sql_star_except" -> ((s, d) => {
      sql(s, d, """
        SELECT * EXCEPT (o_orderstatus, o_orderdate)
        FROM orders_m
        WHERE o_totalprice > 400000
        ORDER BY ALL
      """)
    }),

    // Join strategy HINTS in SQL text: the per-query lever when the
    // planner's size estimates are wrong (a filtered dimension the stats
    // call big, a fact side the stats call small — at 100 TB a mis-chosen
    // broadcast OOMs the executors and a mis-chosen SMJ adds a corpus
    // shuffle). SHUFFLE_MERGE pins the orders⋈lineitem join to sort-merge
    // even though the filtered orders side would otherwise be
    // broadcast-eligible; PlanSpec pins the contrast against a BROADCAST
    // hint on the same text. Hints change the PLAN, never the result —
    // the oracle is the plain unhinted SQL.
    "sql_join_hints" -> ((s, d) => {
      sql(s, d, """
        SELECT /*+ SHUFFLE_MERGE(o) */
               o_orderpriority, count(*) AS n,
               round(sum(l_extendedprice), 2) AS rev
        FROM orders_m o JOIN lineitem_m l ON o_orderkey = l_orderkey
        WHERE o_totalprice > 300000
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)
    }),

    // Parameterized SQL (Spark 3.4+ named parameter markers): the query
    // text carries :seg/:minprice placeholders and the values bind at
    // analysis time — the injection-safe, plan-cache-friendly way a
    // service layer issues the same query shape with varying constants.
    // The bound literals then behave exactly like inline ones (the segment
    // filter pushes to the customer scan).
    "sql_parameterized" -> ((s, d) => {
      sql(s, d,
        """
        SELECT n_name, count(*) AS n, round(sum(o_totalprice), 2) AS rev
        FROM customer_m
        JOIN orders_m ON c_custkey = o_custkey
        JOIN nation_m ON c_nationkey = n_nationkey
        WHERE c_mktsegment = :seg AND o_totalprice > :minprice
        GROUP BY n_name
        ORDER BY n_name
        """,
        Map[String, Any]("seg" -> "BUILDING", "minprice" -> 300000))
    }),

    // TPC-H Q12 shape: conditional (CASE-sum) aggregation over the
    // orders⋈lineitem join — per line status in a ship-year band, how many
    // lines belong to high-priority vs other orders. The CASE arms are
    // computed inside ONE hash aggregate (no per-arm scans, no pivot
    // discovery job); the date band pushes to the lineitem scan. This is
    // the shape monitoring rollups take at 100 TB: N boolean breakdowns =
    // N conditional sums in a single pass.
    "sql_q12_priority_bands" -> ((s, d) => {
      sql(s, d, """
        SELECT l_linestatus,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 1 ELSE 0 END) AS high_lines,
               sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                        THEN 0 ELSE 1 END) AS low_lines
        FROM orders_m JOIN lineitem_m ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
        GROUP BY l_linestatus
        ORDER BY l_linestatus
      """)
    }),

    // TPC-H Q14 shape: a RATIO of conditional aggregates ("promo revenue
    // share") — numerator and denominator computed in the same single
    // aggregation over the month's join (never two passes), dims broadcast.
    // The month filter pushes to the lineitem scan, so at 100 TB the join
    // touches one month of the fact table, not the corpus.
    "sql_q14_promo" -> ((s, d) => {
      sql(s, d, """
        SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0.0 END)
                     / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
               count(*) AS n_lines
        FROM lineitem_m JOIN part_m ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01'
          AND l_shipdate <  TIMESTAMP '1996-10-01'
      """)
    }),

    // TPC-H Q4 literal: per-priority count of a quarter's orders having
    // ≥1 LATE line — EXISTS whose correlated predicate is a NON-EQUI
    // comparison against an outer column (l_shipdate > o_orderdate + 60
    // days), not just the equi key. Catalyst still decorrelates to ONE
    // LeftSemi join on l_orderkey with the date comparison as the join's
    // extra condition — never a per-row subquery — so at 100 TB this is
    // one shuffle of the quarter's orders against lineitem, and the
    // quarter filter pushes to the orders scan. (sql_exists_in pins the
    // equi-only EXISTS/NOT-IN pair; this key pins the non-equi
    // correlation surviving decorrelation.)
    "sql_q4_late_orders" -> ((s, d) => {
      sql(s, d, """
        SELECT o_orderpriority, count(*) AS order_count
        FROM orders_m o
        WHERE o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1996-04-01'
          AND EXISTS (SELECT 1 FROM lineitem_m l
                      WHERE l.l_orderkey = o.o_orderkey
                        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
      """)
    }),

    // TPC-H Q17 literal: revenue lost to below-threshold small-quantity
    // lines of one brand, threshold = 0.2× the PART's own average
    // quantity (correlated scalar agg over the fact table itself).
    // Catalyst decorrelates to a per-part aggregate joined back — two
    // scans of the brand's lineitems, never per-row re-aggregation; the
    // brand filter broadcasts from part, so both passes touch only the
    // brand's ~1/1000 slice of lineitem at any scale. Money sums
    // DECIMAL-accumulate (order-exact) before the single DOUBLE cast;
    // the threshold rounds 4dp on both engines so double-avg
    // reassociation can't flip a boundary line.
    "sql_q17_small_qty" -> ((s, d) => {
      sql(s, d, """
        SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                          AS DOUBLE) / 7.0, 2) AS avg_yearly,
               count(*) AS n_lines
        FROM lineitem_m JOIN part_m ON p_partkey = l_partkey
        WHERE p_brand = 'Brand#23'
          AND l_quantity < (SELECT round(0.2 * avg(l_quantity), 4)
                            FROM lineitem_m l2
                            WHERE l2.l_partkey = p_partkey)
      """)
    }),

    // TPC-H Q22 shape: an UNCORRELATED scalar subquery as a WHERE
    // threshold (global avg of positive balances) + a filtered NOT EXISTS
    // anti arm. Catalyst evaluates the scalar aggregate once and
    // broadcast-joins the 1-row result into the filter (no per-row
    // re-evaluation), and plans NOT EXISTS as a left-anti join on
    // custkey against the pre-filtered orders side. The threshold is
    // rounded to 4dp on both engines so double-avg reassociation noise
    // cannot flip a boundary customer.
    "sql_q22_global_scalar" -> ((s, d) => {
      sql(s, d, """
        SELECT c_nationkey, count(*) AS n_cust,
               round(sum(c_acctbal), 2) AS total_bal
        FROM customer_m c
        WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer_m
                           WHERE c_acctbal > 0.0)
          AND NOT EXISTS (SELECT 1 FROM orders_m o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderpriority = '1-URGENT'
                            AND o.o_orderdate >= TIMESTAMP '1996-01-01'
                            AND o.o_orderdate <  TIMESTAMP '1997-01-01')
        GROUP BY c_nationkey
        ORDER BY c_nationkey
      """)
    }),

    // TPC-H Q13 shape (customer distribution): customer LEFT OUTER JOIN
    // orders with a FILTERED ON predicate (the filter belongs to the join,
    // not a WHERE — a WHERE would silently turn the outer join inner and
    // drop the zero-order customers that are the query's whole point),
    // then a two-level aggregate: per-customer order count → histogram of
    // those counts. Scale: the outer join shuffles both sides on custkey
    // once (orders pre-filters map-side before the exchange); level-1
    // groups on the SAME custkey, so Catalyst reuses the join's
    // partitioning — no second corpus shuffle; level-2's domain is the
    // distinct count values (≤ orders-per-customer max, tiny anywhere).
    // The schema has no o_comment, so the canonical NOT-LIKE-promo ON
    // filter becomes the equivalent selectivity class on o_orderpriority.
    "sql_q13_cust_distribution" -> ((s, d) => {
      sql(s, d, """
        SELECT c_count, count(*) AS custdist
        FROM (SELECT c_custkey, count(o_orderkey) AS c_count
              FROM customer_m LEFT OUTER JOIN orders_m
                ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey) c_orders
        GROUP BY c_count
        ORDER BY custdist DESC, c_count DESC
      """)
    }),

    // TPC-H Q21 shape (suppliers who kept waiting): EXISTS and NOT EXISTS
    // BOTH correlated to the same lineitem fact — the hardest canonical
    // subquery stack. Semantics on this schema (no receipt/commit dates):
    // a supplier's 'R'-flagged line on a finished multi-supplier order
    // where they were the ONLY supplier with an 'R' line. Catalyst plans
    // the EXISTS as a LeftSemi and the NOT EXISTS as a LeftAnti, both
    // shuffling on l_orderkey — the SAME key as the orders join, so the
    // three fact-sized joins share one exchange chain and nothing is
    // executed per-row (PlanSpec pins both join types and the absence of
    // any correlated-subquery re-execution). supplier⋈nation broadcast.
    "sql_q21_suppliers_waiting" -> ((s, d) => {
      sql(s, d, """
        SELECT s_name, count(*) AS numwait
        FROM supplier_m
        JOIN lineitem_m l1 ON s_suppkey = l1.l_suppkey
        JOIN orders_m ON o_orderkey = l1.l_orderkey
        JOIN nation_m ON s_nationkey = n_nationkey
        WHERE o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND n_name LIKE 'NATION_1%'
          AND EXISTS (SELECT 1 FROM lineitem_m l2
                      WHERE l2.l_orderkey = l1.l_orderkey
                        AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (SELECT 1 FROM lineitem_m l3
                          WHERE l3.l_orderkey = l1.l_orderkey
                            AND l3.l_suppkey <> l1.l_suppkey
                            AND l3.l_returnflag = 'R')
        GROUP BY s_name
        ORDER BY numwait DESC, s_name
        LIMIT 100
      """)
    }),

    // TPC-H Q15 shape (top supplier): a CTE referenced TWICE — once as
    // the join fact, once inside the scalar max() subquery that selects
    // the winner(s). The revenue accumulates in DECIMAL(18,4) and casts
    // back to DOUBLE so the equality filter compares bit-identical values
    // cross-engine (a double-sum here would make "== max" a reassociation
    // lottery). Catalyst keeps the doubly-referenced CTE as one
    // definition; the scalar subquery evaluates once and broadcasts into
    // the filter — never per-row. Scale: one lineitem shuffle on suppkey
    // (date band pushed to the scan), supplier dim broadcast, and the max
    // runs over the 100-row aggregate, not the fact.
    "sql_q15_top_supplier" -> ((s, d) => {
      // r20: revenue referenced twice (join + max scalar) —
      // materialized once, same rationale and oracle proof as sql_q2
      LlmOps.cutLineage(sql(s, d, """
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        FROM lineitem_m
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
          -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
          AND (l_discount IS NULL OR
             (NOT isnan(l_discount) AND abs(l_discount) < CAST('Infinity' AS DOUBLE)))
        GROUP BY l_suppkey"""))
        .createOrReplaceTempView("graft_q15_revenue")
      sql(s, d, """
        WITH revenue AS (SELECT * FROM graft_q15_revenue)
        SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
        FROM supplier_m JOIN revenue ON s_suppkey = supplier_no
        WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
        ORDER BY s_suppkey
      """)
    }),

    // The named WINDOW clause in SQL text — the parser surface for
    // sharing a frame definition across expressions (every hand-written
    // analytics query uses it). Two windows over the same partition key:
    // both resolve to ONE custkey exchange + sort chain (same-key windows
    // coalesce), the running total is a sequential ROWS frame so its
    // double sum is order-deterministic in both engines.
    "sql_window_clause" -> ((s, d) => {
      sql(s, d, """
        SELECT o_custkey, o_orderkey, o_totalprice,
               rank() OVER w AS rnk,
               round(sum(o_totalprice) OVER w2, 2) AS run_total
        FROM orders_m
        WHERE (o_totalprice IS NULL OR
               (NOT isnan(o_totalprice) AND abs(o_totalprice) < CAST('Infinity' AS DOUBLE)))
        WINDOW w  AS (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey),
               w2 AS (PARTITION BY o_custkey
                      ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ORDER BY o_orderkey
      """)
    }),

    // The native as-of join entered as SQL TEXT — the §7.3c operator
    // reached the way a user actually queries. The injected AsOfSqlParser
    // (GraftExtensions.injectParser) recognizes the ASOF JOIN clause and
    // plans it straight to AsOfJoinExec (PlanSpec pins the node); the
    // session must be BUILT with spark.sql.extensions=graft.GraftExtensions
    // (Verify/Bench/TestSpark all are — a parser cannot be injected into an
    // existing session). Same query and oracle as join_asof_native.
    "sql_asof" -> ((s, d) => {
      sql(s, d, """
        SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
        FROM (SELECT * FROM events_m WHERE event_type = 'purchase') p
        ASOF JOIN (SELECT * FROM events_m WHERE event_type = 'signup') s
          ON p.user_id = s.user_id AND p.ts >= s.ts
        ORDER BY p.event_id
      """)
    }),

    // INTERSECT / EXCEPT in SQL TEXT — §G's set algebra reached through
    // the parser (the API keys prove the operators; this proves the SQL
    // front door): high-balance customers who placed an URGENT order but
    // never a finished one. Catalyst plans INTERSECT as a LeftSemi and
    // EXCEPT as a LeftAnti over the deduped sides — set semantics, no
    // full materialized distinct-union anywhere.
    "sql_set_ops" -> ((s, d) => {
      sql(s, d, """
        SELECT c_custkey FROM customer_m WHERE c_acctbal > 5000
        INTERSECT
        SELECT o_custkey FROM orders_m WHERE o_orderpriority = '1-URGENT'
        EXCEPT
        SELECT o_custkey FROM orders_m WHERE o_orderstatus = 'F'
        ORDER BY c_custkey
      """)
    }),

    // GROUP BY ALL / ORDER BY ALL — the modern-SQL ergonomic surface
    // (every non-aggregate output column groups implicitly; the output
    // orders by all columns left-to-right). Resolves to exactly the
    // explicit-list plan: one map-side-combinable hash aggregate on the
    // two flag columns, bounded output. Both engines implement the same
    // resolution rule, so the text runs unchanged.
    "sql_group_by_all" -> ((s, d) => {
      sql(s, d, """
        SELECT l_returnflag, l_linestatus,
               count(*) AS n_lines,
               round(sum(l_quantity), 2) AS total_qty
        FROM lineitem_m
        WHERE l_shipdate < TIMESTAMP '1997-01-01'
        GROUP BY ALL
        ORDER BY ALL
      """)
    }),

    // An inline VALUES relation joined against a fact — the idiomatic way
    // a query ships a small config table (priority weights here) WITHOUT
    // a temp-table round trip. The 3-row inline relation broadcasts (it
    // is literal at plan time), the join doubles as the priority filter
    // (inner join drops unlisted priorities), and the weighted revenue
    // accumulates in DECIMAL. Spark spells the inline table `FROM VALUES
    // … AS w(…)`; DuckDB wants parentheses — the oracle differs only in
    // that spelling.
    "sql_values_inline" -> ((s, d) => {
      sql(s, d, """
        SELECT w.prio, w.weight, count(*) AS n_orders,
               CAST(round(sum(CAST(o_totalprice * w.weight
                                   AS DECIMAL(18,4))), 2) AS DOUBLE)
                 AS weighted_rev
        FROM orders_m
        JOIN VALUES ('1-URGENT', 3), ('2-HIGH', 2), ('5-LOW', 1)
               AS w(prio, weight)
          ON o_orderpriority = w.prio
        -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
        WHERE (o_totalprice IS NULL OR
               (NOT isnan(o_totalprice) AND abs(o_totalprice) < CAST('Infinity' AS DOUBLE)))
        GROUP BY w.prio, w.weight
        ORDER BY w.prio
      """)
    }),

    // TPC-H Q6 shape (forecast revenue): the pure scan-filter-aggregate —
    // zero joins, every predicate (date band, discount band, quantity cap)
    // pushed to the parquet scan, one partial+final agg, 1-row output. At
    // 100 TB this is the query that proves pushdown works: the scan reads
    // three columns of one year's row groups and nothing else. Revenue
    // accumulates in DECIMAL(18,4) so the two engines' sum order cannot
    // produce different 2dp roundings.
    "sql_q6_forecast_revenue" -> ((s, d) => {
      sql(s, d, """
        SELECT CAST(CAST(sum(CAST(l_extendedprice * l_discount
                                  AS DECIMAL(18,4))) AS DOUBLE) AS DOUBLE)
                 AS revenue,
               count(*) AS n_lines
        FROM lineitem_m
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1997-01-01'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24.0
      """)
    }),

    // TPC-H Q2 shape (min-cost supplier): a correlated scalar MIN subquery
    // whose correlation spans a multi-join, against a CTE referenced twice
    // (outer fact + inside the min). The schema has no partsupp table, so
    // it is DERIVED from lineitem (per-(part,supplier) min unit price —
    // same two-key relation, same shape). Catalyst decorrelates the min
    // into an aggregate-then-join (no per-row re-execution); region/nation/
    // supplier dims broadcast; the one shuffle is the partsupp GROUP BY on
    // (partkey, suppkey). Unit cost rounds 4dp BEFORE the min so the
    // equality filter compares identically-constructed doubles.
    "sql_q2_min_cost" -> ((s, d) => {
      // r20: materializing the twice-referenced partsupp CTE was
      // measured NEUTRAL-TO-WORSE here (1.53 -> ~1.7 s, unlike
      // q11/q15): the correlated min-cost subquery's decorrelated
      // aggregate is cheap relative to the checkpoint write, so the
      // inline double derivation stays.
      // r20 wave 2 (guide §2.5): the partsupp GROUP BY hashed ~1 group
      // per input row, and its partial-agg stage ran on the 3-file scan
      // width (probe: a 711 ms 3-task stage ≈ 35% of the key). The
      // REPARTITION hint pins a (partkey, suppkey) exchange at
      // defaultParallelism BELOW the aggregate — clustering is then
      // satisfied, so the agg runs once, cluster-wide, with no second
      // exchange, and ReuseExchange still dedups the CTE's two
      // references. No-op at scale: a many-file lineitem already scans
      // wider than this. ADVICE r20 caveat: the hint ships RAW rows
      // (no map-side partials) — a win only while the fixture's ~1
      // group per input row holds; if a larger SF grows duplicates per
      // (partkey, suppkey), re-measure and gate on rows-per-group.
      sql(s, d, s"""
        WITH partsupp AS (
          SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
                 min(round(l_extendedprice / l_quantity, 4)) AS ps_supplycost
          FROM (SELECT /*+ REPARTITION(${s.sparkContext.defaultParallelism},
                            l_partkey, l_suppkey) */
                       l_partkey, l_suppkey, l_extendedprice, l_quantity
                FROM lineitem_m)
          GROUP BY l_partkey, l_suppkey)
        SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost
        FROM part_m
        JOIN partsupp   ON p_partkey = ps_partkey
        JOIN supplier_m ON s_suppkey = ps_suppkey
        JOIN nation_m   ON s_nationkey = n_nationkey
        JOIN region_m   ON n_regionkey = r_regionkey
        WHERE p_size = 25 AND p_type = 'LARGE' AND r_name = 'ASIA'
          AND ps_supplycost = (
            SELECT min(ps2.ps_supplycost)
            FROM partsupp ps2
            JOIN supplier_m s2 ON s2.s_suppkey = ps2.ps_suppkey
            JOIN nation_m n2   ON s2.s_nationkey = n2.n_nationkey
            JOIN region_m r2   ON n2.n_regionkey = r2.r_regionkey
            WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'ASIA')
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        LIMIT 100
      """)
    }),

    // TPC-H Q8 shape (market share): one nation's share of a region's
    // market for a part type, per year — the CASE-sum / sum ratio computed
    // in a SINGLE aggregation over the 7-table star (never two passes).
    // Volume is cast to DECIMAL(18,4) per row so both engines' numerator
    // and denominator are exact before the one double division; the year
    // domain is tiny so the final agg never skews. Dims (part, customer-
    // side nation/region, supplier-side nation) broadcast; the two fact
    // shuffles are lineitem⋈orders on orderkey and orders⋈customer on
    // custkey.
    "sql_q8_market_share" -> ((s, d) => {
      sql(s, d, """
        SELECT o_year,
               round(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                                   THEN volume
                                   ELSE CAST(0 AS DECIMAL(18,4)) END)
                          AS DOUBLE)
                     / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
        FROM (
          SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
                 CAST(l_extendedprice * (1 - l_discount)
                      AS DECIMAL(18,4)) AS volume,
                 n2.n_name AS supp_nation
          FROM part_m
          JOIN lineitem_m ON p_partkey = l_partkey
          JOIN orders_m   ON l_orderkey = o_orderkey
          JOIN customer_m ON o_custkey = c_custkey
          JOIN nation_m n1 ON c_nationkey = n1.n_nationkey
          JOIN region_m    ON n1.n_regionkey = r_regionkey
          JOIN supplier_m  ON l_suppkey = s_suppkey
          JOIN nation_m n2 ON s_nationkey = n2.n_nationkey
          WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
            AND o_orderdate >= TIMESTAMP '1996-01-01'
            AND o_orderdate <  TIMESTAMP '1998-01-01'
            -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
            AND (l_discount IS NULL OR
               (NOT isnan(l_discount) AND abs(l_discount) < CAST('Infinity' AS DOUBLE)))) all_sales
        GROUP BY o_year
        ORDER BY o_year
      """)
    }),

    // TPC-H Q9 shape (product-type profit): profit per supplier-nation per
    // year over a LIKE-filtered part family. No ps_supplycost exists in
    // this schema, so cost is modeled as a retail-price carry fraction —
    // the shape (5-table join, LIKE pushdown on the part dim, two-key
    // group) is unchanged. Per-row amounts go to DECIMAL(18,4) before the
    // sum; the LIKE filter prunes part BEFORE the join so only matching
    // parts' lineitems survive the partkey shuffle.
    "sql_q9_product_profit" -> ((s, d) => {
      sql(s, d, """
        SELECT nation, o_year,
               CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
        FROM (
          SELECT n_name AS nation,
                 CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
                 CAST(l_extendedprice * (1 - l_discount)
                      - 0.02 * p_retailprice * l_quantity
                      AS DECIMAL(18,4)) AS amount
          FROM part_m
          JOIN lineitem_m ON p_partkey = l_partkey
          JOIN supplier_m ON s_suppkey = l_suppkey
          JOIN orders_m   ON o_orderkey = l_orderkey
          JOIN nation_m   ON s_nationkey = n_nationkey
          WHERE p_name LIKE '%widget%'
            -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
            AND (l_discount IS NULL OR
               (NOT isnan(l_discount) AND abs(l_discount) < CAST('Infinity' AS DOUBLE)))) profit
        GROUP BY nation, o_year
        ORDER BY nation, o_year DESC
      """)
    }),

    // TPC-H Q11 shape (important stock): a grouped value rollup filtered
    // by HAVING against a GLOBAL scalar fraction of the same CTE — the
    // "top concentration" pattern. partsupp is derived from lineitem (per-
    // (part,supplier) revenue within a nation band — a LIKE band, not a
    // single nation, so the fixture is non-empty at every SF); the CTE is
    // twice and Catalyst evaluates the global-sum scalar once, broadcasting
    // the 1-row threshold into the HAVING filter. Value accumulates in
    // DECIMAL end-to-end (both sums exact); only the final output casts to
    // DOUBLE.
    "sql_q11_important_stock" -> ((s, d) => {
      // r20: partsupp referenced twice (main agg + HAVING scalar) —
      // materialized once, same rationale and oracle proof as sql_q2
      LlmOps.cutLineage(sql(s, d, """
        SELECT l_partkey AS ps_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS ps_value
        FROM lineitem_m
        JOIN supplier_m ON l_suppkey = s_suppkey
        JOIN nation_m   ON s_nationkey = n_nationkey
        WHERE n_name LIKE 'NATION_1%'
        GROUP BY l_partkey, l_suppkey"""))
        .createOrReplaceTempView("graft_q11_partsupp")
      s.sql("""
        WITH partsupp AS (SELECT * FROM graft_q11_partsupp)
        SELECT ps_partkey,
               CAST(round(sum(ps_value), 2) AS DOUBLE) AS total_value
        FROM partsupp
        GROUP BY ps_partkey
        HAVING CAST(sum(ps_value) AS DOUBLE) >
               (SELECT CAST(sum(ps_value) AS DOUBLE) * 0.001 FROM partsupp)
        ORDER BY total_value DESC, ps_partkey
      """)
    }),

    // TPC-H Q16 shape (parts/supplier relationship): COUNT DISTINCT
    // suppliers per (brand, type, size) bucket with a NOT IN exclusion
    // subquery (the "complaints" list — here: negative-balance suppliers).
    // Catalyst plans NOT IN as a null-aware anti join (broadcast — the
    // exclusion list is 6 rows); the distinct count shuffles once on the
    // group key with partial distinct applied map-side. The part dim
    // filters (brand/type/size set) prune before the join.
    "sql_q16_parts_supplier" -> ((s, d) => {
      sql(s, d, """
        SELECT p_brand, p_type, p_size,
               count(DISTINCT l_suppkey) AS supplier_cnt
        FROM lineitem_m JOIN part_m ON p_partkey = l_partkey
        WHERE p_brand <> 'Brand#13'
          AND p_type NOT IN ('PROMO', 'ECONOMY')
          AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
          AND l_suppkey NOT IN
              (SELECT s_suppkey FROM supplier_m WHERE s_acctbal < 0.0)
        GROUP BY p_brand, p_type, p_size
        ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
      """)
    }),

    // TPC-H Q20 shape (potential promotion): nested IN subqueries with a
    // CORRELATED scalar aggregate inside the inner HAVING — suppliers who
    // shipped MORE than half a red part's all-time volume inside one year
    // (the availqty>half-shipped predicate re-expressed on this schema so
    // it stays selective). Catalyst decorrelates the half-sum into an
    // aggregate joined on the two correlation keys, and both IN arms plan
    // as semi joins — nothing per-row. Quantities are integer-valued
    // doubles, so every sum is IEEE-exact and the 0.5× comparison is
    // deterministic cross-engine.
    "sql_q20_potential_promo" -> ((s, d) => {
      sql(s, d, """
        SELECT s_suppkey, s_name
        FROM supplier_m JOIN nation_m ON s_nationkey = n_nationkey
        WHERE n_name LIKE 'NATION_1%'
          AND s_suppkey IN (
            SELECT l1.l_suppkey
            FROM lineitem_m l1
            WHERE l1.l_partkey IN
                  (SELECT p_partkey FROM part_m WHERE p_name LIKE 'red%')
              AND l1.l_shipdate >= TIMESTAMP '1996-01-01'
              AND l1.l_shipdate <  TIMESTAMP '1997-01-01'
            GROUP BY l1.l_suppkey, l1.l_partkey
            HAVING sum(l1.l_quantity) > (
              SELECT 0.5 * sum(l2.l_quantity) FROM lineitem_m l2
              WHERE l2.l_partkey = l1.l_partkey
                AND l2.l_suppkey = l1.l_suppkey))
        ORDER BY s_suppkey
      """)
    })
  ))

  val oracle: Map[String, String] = graft.Contract.uniqueMap("SqlOps.oracle", Seq(
    // Identical recursive text (UNION ALL walk enumeration runs unchanged
    // in DuckDB; only the view-name suffix differs). Equals graph_bfs's
    // oracle output: min-dist per node under the same hop clamp.
    "sql_recursive_cte" -> s"""
      WITH RECURSIVE p AS (
        SELECT 'c' || o_custkey AS c, 's' || l_suppkey AS s
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1, 2 HAVING count(*) >= 3),
      e AS (SELECT c AS src, s AS dst FROM p
            UNION ALL SELECT s AS src, c AS dst FROM p),
      seed AS (SELECT min(src) AS node FROM e),
      reach(node, dist) AS (
        SELECT node, 0 FROM seed
        UNION ALL
        SELECT e.dst, r.dist + 1 FROM reach r JOIN e ON e.src = r.node
        WHERE r.dist < $RecursiveCteRounds)
      SELECT node, CAST(min(dist) AS INT) AS dist
      FROM reach GROUP BY node ORDER BY node""",

    // Same oracle as join_asof_native: DuckDB's ASOF JOIN is the exact
    // semantic twin of the clause our parser extension accepts.
    "sql_asof" -> """
      SELECT p.event_id, p.user_id, p.ts, s.ts AS signup_ts
      FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      ASOF JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        ON p.user_id = s.user_id AND p.ts >= s.ts
      ORDER BY p.event_id""",

    // Identical LATERAL text runs in DuckDB.
    "sql_lateral_topk" -> """
      SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
      FROM customer c,
      LATERAL (
        SELECT o_orderkey, o_totalprice FROM orders o
        WHERE o.o_custkey = c.c_custkey
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 2
      ) t
      WHERE c.c_mktsegment = 'MACHINERY'
      ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""",

    // Identical text (no timestamp literals to respell).
    "sql_q18_large_orders" -> """
      SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice,
             round(sum(l_quantity), 2) AS total_qty
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON o_orderkey = l_orderkey
      WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
      GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
      ORDER BY o_totalprice DESC, o_orderkey
      LIMIT 100""",

    "sql_q3_shipping" -> """
      SELECT l_orderkey,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
             o_orderdate, o_orderpriority
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      WHERE c_mktsegment = 'BUILDING'
        AND o_orderdate < TIMESTAMP '1996-07-01'
        AND l_shipdate  > TIMESTAMP '1996-07-01'
      GROUP BY l_orderkey, o_orderdate, o_orderpriority
      ORDER BY revenue DESC, o_orderdate, l_orderkey
      LIMIT 10""",

    "sql_event_funnel" -> """
      WITH v AS (
        SELECT user_id, min(ts) AS ts_v FROM events
        WHERE event_type = 'view' GROUP BY user_id),
      c AS (
        SELECT e.user_id, min(e.ts) AS ts_c
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.ts_v
        GROUP BY e.user_id),
      p AS (
        SELECT e.user_id, min(e.ts) AS ts_p
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.ts_c
        GROUP BY e.user_id)
      SELECT (SELECT count(*) FROM v) AS n_view,
             (SELECT count(*) FROM c) AS n_click_after_view,
             (SELECT count(*) FROM p) AS n_purchase_after_click""",

    "sql_retention_cohort" -> """
      WITH uw AS (
        SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events)
      SELECT a.wk AS cohort_week,
             count(*) AS n_active,
             CAST(count(b.user_id) AS BIGINT) AS n_retained,
             round(count(b.user_id) / CAST(count(*) AS DOUBLE), 4) AS retention
      FROM uw a
      LEFT JOIN uw b
        ON a.user_id = b.user_id AND b.wk = a.wk + INTERVAL 7 DAY
      GROUP BY a.wk
      ORDER BY cohort_week""",

    "sql_correlated_scalar" -> """
      SELECT l_partkey, count(*) AS n_above,
             round(sum(l_extendedprice), 2) AS rev_above
      FROM lineitem l1
      WHERE l_extendedprice > round(1.5 * (
        SELECT avg(l_extendedprice) FROM lineitem l2
        WHERE l2.l_partkey = l1.l_partkey), 4)
      GROUP BY l_partkey
      ORDER BY l_partkey""",

    // DuckDB year() returns BIGINT — cast to Spark's INT.
    "sql_q7_volume" -> """
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS INT) AS l_year,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
         OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
      GROUP BY n1.n_name, n2.n_name, year(l_shipdate)
      ORDER BY supp_nation, cust_nation, l_year""",

    "sql_q10_returns" -> """
      SELECT c_custkey, c_name, n_name,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2)
                  AS DOUBLE) AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-07-01'
        AND l_returnflag = 'R'
        -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
        AND (l_discount IS NULL OR isfinite(l_discount))
      GROUP BY c_custkey, c_name, n_name
      ORDER BY revenue DESC, c_custkey
      LIMIT 20""",

    "sql_q19_disjunctive" -> """
      SELECT p_brand, count(*) AS n,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM lineitem
      JOIN part ON p_partkey = l_partkey
      WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1  AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
      GROUP BY p_brand
      ORDER BY p_brand""",

    "sql_exists_in" -> """
      WITH q4 AS (
        SELECT o_orderpriority AS grp, count(*) AS n
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 48)
        GROUP BY o_orderpriority),
      cold AS (
        SELECT 'Z-NO-URGENT-CUST' AS grp, count(*) AS n
        FROM customer
        WHERE c_custkey NOT IN
          (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'))
      SELECT grp, n FROM (SELECT * FROM q4 UNION ALL SELECT * FROM cold) u
      ORDER BY grp NULLS FIRST""",

    // Variables resolve to their value at analysis — the inlined literal
    // is the semantic contract.
    "sql_session_variable" -> """
      SELECT o_orderpriority, count(*) AS n,
             round(sum(o_totalprice), 2) AS rev
      FROM orders
      WHERE o_totalprice > 350000.0
      GROUP BY 1
      -- NULLS FIRST = Spark's ASC default (r21 fuzz, NULL priority group)
      ORDER BY 1 NULLS FIRST""",

    // Same page over the same total order.
    "sql_limit_offset" -> """
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey ASC
      LIMIT 20 OFFSET 40""",

    // DuckDB plans the same disjunctive EXISTS as its native MARK join.
    "sql_exists_mark" -> """
      SELECT c_custkey, c_acctbal
      FROM customer c
      WHERE c_acctbal < 0
         OR EXISTS (SELECT 1 FROM orders o
                    WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderpriority = '1-URGENT'
                      AND o.o_totalprice > 250000)
      ORDER BY c_custkey""",

    // DuckDB's PIVOT dialect differs (ON/USING) — the oracle is the
    // explicit conditional-aggregate expansion, which is also exactly the
    // plan both engines execute.
    "sql_pivot_clause" -> """
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             round(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice END), 2) AS urgent,
             round(sum(CASE WHEN o_orderpriority = '3-MEDIUM' THEN o_totalprice END), 2) AS medium,
             round(sum(CASE WHEN o_orderpriority = '5-LOW'    THEN o_totalprice END), 2) AS low
      FROM orders
      -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
      WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
      GROUP BY 1
      ORDER BY yr""",

    // UNPIVOT(drop-NULL default) of the conditional-agg wide frame ≡ the
    // direct long-form GROUP BY — the oracle states the equivalence.
    "sql_unpivot_clause" -> """
      SELECT CAST(year(o_orderdate) AS INT) AS yr,
             CASE o_orderpriority WHEN '1-URGENT' THEN 'urgent'
                                  WHEN '3-MEDIUM' THEN 'medium'
                                  ELSE 'low' END AS band,
             round(sum(o_totalprice), 2) AS rev
      FROM orders
      WHERE o_orderpriority IN ('1-URGENT', '3-MEDIUM', '5-LOW')
        -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
        AND (o_totalprice IS NULL OR isfinite(o_totalprice))
      GROUP BY 1, 2
      ORDER BY yr, band""",

    // DuckDB's spelling of the same star-modifiers: EXCLUDE + ORDER BY ALL.
    "sql_star_except" -> """
      SELECT * EXCLUDE (o_orderstatus, o_orderdate)
      FROM orders
      WHERE o_totalprice > 400000
      ORDER BY ALL""",

    // Hints are plan-side only — plain SQL is the oracle.
    "sql_join_hints" -> """
      SELECT o_orderpriority, count(*) AS n,
             round(sum(l_extendedprice), 2) AS rev
      FROM orders o JOIN lineitem l ON o_orderkey = l_orderkey
      WHERE o_totalprice > 300000
      GROUP BY o_orderpriority
      -- NULLS FIRST = Spark's ASC default (r21 fuzz, NULL priority group)
      ORDER BY o_orderpriority NULLS FIRST""",

    // Parameter binding is Spark-side plumbing — the oracle inlines the
    // bound literals.
    "sql_parameterized" -> """
      SELECT n_name, count(*) AS n, round(sum(o_totalprice), 2) AS rev
      FROM customer
      JOIN orders ON c_custkey = o_custkey
      JOIN nation ON c_nationkey = n_nationkey
      WHERE c_mktsegment = 'BUILDING' AND o_totalprice > 300000
      GROUP BY n_name
      ORDER BY n_name""",

    // DuckDB sums of INTEGER CASE arms are HUGEINT — cast to BIGINT to
    // match Spark's LongType.
    "sql_q12_priority_bands" -> """
      SELECT l_linestatus,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 1 ELSE 0 END) AS BIGINT) AS high_lines,
             CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                           THEN 0 ELSE 1 END) AS BIGINT) AS low_lines
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_linestatus
      ORDER BY l_linestatus""",

    "sql_q14_promo" -> """
      SELECT round(100.0 * sum(CASE WHEN p_type = 'PROMO'
                                    THEN l_extendedprice * (1 - l_discount)
                                    ELSE 0.0 END)
                   / sum(l_extendedprice * (1 - l_discount)), 4) AS promo_pct,
             count(*) AS n_lines
      FROM lineitem JOIN part ON l_partkey = p_partkey
      WHERE l_shipdate >= TIMESTAMP '1996-09-01'
        AND l_shipdate <  TIMESTAMP '1996-10-01'""",

    "sql_q4_late_orders" -> """
      SELECT o_orderpriority, count(*) AS order_count
      FROM orders o
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-04-01'
        AND EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = o.o_orderkey
                      AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority NULLS FIRST""",

    "sql_q17_small_qty" -> """
      SELECT round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                        AS DOUBLE) / 7.0, 2) AS avg_yearly,
             count(*) AS n_lines
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#23'
        AND l_quantity < (SELECT round(0.2 * avg(l_quantity), 4)
                          FROM lineitem l2
                          WHERE l2.l_partkey = p_partkey)""",

    "sql_q22_global_scalar" -> """
      SELECT c_nationkey, count(*) AS n_cust,
             round(sum(c_acctbal), 2) AS total_bal
      FROM customer c
      WHERE c_acctbal > (SELECT round(avg(c_acctbal), 4) FROM customer
                         WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM orders o
                        WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderpriority = '1-URGENT'
                          AND o.o_orderdate >= TIMESTAMP '1996-01-01'
                          AND o.o_orderdate <  TIMESTAMP '1997-01-01')
      GROUP BY c_nationkey
      ORDER BY c_nationkey""",

    "sql_q15_top_supplier" -> """
      WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate <  TIMESTAMP '1996-04-01'
          -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
          AND (l_discount IS NULL OR isfinite(l_discount))
        GROUP BY l_suppkey)
      SELECT s_suppkey, s_name, round(total_revenue, 2) AS total_revenue
      FROM supplier JOIN revenue ON s_suppkey = supplier_no
      WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
      ORDER BY s_suppkey""",

    "sql_window_clause" -> """
      SELECT o_custkey, o_orderkey, o_totalprice,
             rank() OVER w AS rnk,
             round(sum(o_totalprice) OVER w2, 2) AS run_total
      FROM orders
      WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
      WINDOW w  AS (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey),
             w2 AS (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      ORDER BY o_orderkey""",

    "sql_q13_cust_distribution" -> """
      SELECT c_count, count(*) AS custdist
      FROM (SELECT c_custkey, count(o_orderkey) AS c_count
            FROM customer LEFT OUTER JOIN orders
              ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
            GROUP BY c_custkey) c_orders
      GROUP BY c_count
      ORDER BY custdist DESC, c_count DESC""",

    "sql_q21_suppliers_waiting" -> """
      SELECT s_name, count(*) AS numwait
      FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
      WHERE o_orderstatus = 'F'
        AND l1.l_returnflag = 'R'
        AND n_name LIKE 'NATION_1%'
        AND EXISTS (SELECT 1 FROM lineitem l2
                    WHERE l2.l_orderkey = l1.l_orderkey
                      AND l2.l_suppkey <> l1.l_suppkey)
        AND NOT EXISTS (SELECT 1 FROM lineitem l3
                        WHERE l3.l_orderkey = l1.l_orderkey
                          AND l3.l_suppkey <> l1.l_suppkey
                          AND l3.l_returnflag = 'R')
      GROUP BY s_name
      ORDER BY numwait DESC, s_name
      LIMIT 100""",

    "sql_q5_local_revenue" -> """
      SELECT n_name,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
      FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE r_name = 'ASIA'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY n_name
      ORDER BY revenue DESC, n_name""",

    "sql_set_ops" -> """
      SELECT c_custkey FROM customer WHERE c_acctbal > 5000
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      ORDER BY c_custkey""",

    "sql_group_by_all" -> """
      SELECT l_returnflag, l_linestatus,
             count(*) AS n_lines,
             round(sum(l_quantity), 2) AS total_qty
      FROM lineitem
      WHERE l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY ALL
      ORDER BY ALL""",

    // DuckDB's inline-table spelling parenthesizes the VALUES list.
    "sql_values_inline" -> """
      SELECT w.prio, w.weight, count(*) AS n_orders,
             CAST(round(sum(CAST(o_totalprice * w.weight
                                 AS DECIMAL(18,4))), 2) AS DOUBLE)
               AS weighted_rev
      FROM orders
      JOIN (VALUES ('1-URGENT', 3), ('2-HIGH', 2), ('5-LOW', 1))
             AS w(prio, weight)
        ON o_orderpriority = w.prio
      -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
      WHERE (o_totalprice IS NULL OR isfinite(o_totalprice))
      GROUP BY w.prio, w.weight
      ORDER BY w.prio""",

    "sql_q6_forecast_revenue" -> """
      SELECT CAST(CAST(sum(CAST(l_extendedprice * l_discount
                                AS DECIMAL(18,4))) AS DOUBLE) AS DOUBLE)
               AS revenue,
             count(*) AS n_lines
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
        AND l_discount BETWEEN 0.05 AND 0.07
        AND l_quantity < 24.0""",

    "sql_q2_min_cost" -> """
      WITH partsupp AS (
        SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
               min(round(l_extendedprice / l_quantity, 4)) AS ps_supplycost
        FROM lineitem
        GROUP BY l_partkey, l_suppkey)
      SELECT s_acctbal, s_name, n_name, p_partkey, ps_supplycost
      FROM part
      JOIN partsupp ON p_partkey = ps_partkey
      JOIN supplier ON s_suppkey = ps_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
      WHERE p_size = 25 AND p_type = 'LARGE' AND r_name = 'ASIA'
        AND ps_supplycost = (
          SELECT min(ps2.ps_supplycost)
          FROM partsupp ps2
          JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
          JOIN nation n2   ON s2.s_nationkey = n2.n_nationkey
          JOIN region r2   ON n2.n_regionkey = r2.r_regionkey
          WHERE ps2.ps_partkey = p_partkey AND r2.r_name = 'ASIA')
      ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
      LIMIT 100""",

    "sql_q8_market_share" -> """
      SELECT o_year,
             round(CAST(sum(CASE WHEN supp_nation = 'NATION_3'
                                 THEN volume
                                 ELSE CAST(0 AS DECIMAL(18,4)) END)
                        AS DOUBLE)
                   / CAST(sum(volume) AS DOUBLE), 6) AS mkt_share
      FROM (
        SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               CAST(l_extendedprice * (1 - l_discount)
                    AS DECIMAL(18,4)) AS volume,
               n2.n_name AS supp_nation
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region    ON n1.n_regionkey = r_regionkey
        JOIN supplier  ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
        WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate <  TIMESTAMP '1998-01-01'
          -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
          AND (l_discount IS NULL OR isfinite(l_discount))) all_sales
      GROUP BY o_year
      ORDER BY o_year""",

    "sql_q9_product_profit" -> """
      SELECT nation, o_year,
             CAST(round(sum(amount), 2) AS DOUBLE) AS sum_profit
      FROM (
        SELECT n_name AS nation,
               CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS o_year,
               CAST(l_extendedprice * (1 - l_discount)
                    - 0.02 * p_retailprice * l_quantity
                    AS DECIMAL(18,4)) AS amount
        FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN supplier ON s_suppkey = l_suppkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE p_name LIKE '%widget%'
          -- measure-ingest guard (r19 fuzz): REAL measure for the DECIMAL cast
          AND (l_discount IS NULL OR isfinite(l_discount))) profit
      GROUP BY nation, o_year
      ORDER BY nation, o_year DESC""",

    "sql_q11_important_stock" -> """
      WITH partsupp AS (
        SELECT l_partkey AS ps_partkey,
               sum(CAST(l_extendedprice AS DECIMAL(18,4))) AS ps_value
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE n_name LIKE 'NATION_1%'
        GROUP BY l_partkey, l_suppkey)
      SELECT ps_partkey,
             CAST(round(sum(ps_value), 2) AS DOUBLE) AS total_value
      FROM partsupp
      GROUP BY ps_partkey
      HAVING CAST(sum(ps_value) AS DOUBLE) >
             (SELECT CAST(sum(ps_value) AS DOUBLE) * 0.001 FROM partsupp)
      ORDER BY total_value DESC, ps_partkey""",

    "sql_q16_parts_supplier" -> """
      SELECT p_brand, p_type, p_size,
             count(DISTINCT l_suppkey) AS supplier_cnt
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand <> 'Brand#13'
        AND p_type NOT IN ('PROMO', 'ECONOMY')
        AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        AND l_suppkey NOT IN
            (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
      GROUP BY p_brand, p_type, p_size
      ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    "sql_q20_potential_promo" -> """
      SELECT s_suppkey, s_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name LIKE 'NATION_1%'
        AND s_suppkey IN (
          SELECT l1.l_suppkey
          FROM lineitem l1
          WHERE l1.l_partkey IN
                (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
            AND l1.l_shipdate >= TIMESTAMP '1996-01-01'
            AND l1.l_shipdate <  TIMESTAMP '1997-01-01'
          GROUP BY l1.l_suppkey, l1.l_partkey
          HAVING sum(l1.l_quantity) > (
            SELECT 0.5 * sum(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l1.l_partkey
              AND l2.l_suppkey = l1.l_suppkey))
      ORDER BY s_suppkey"""
  ))
}
