package graft
package catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Blocklist, Dedup, DocPipeline, Layout, RangeJoin}

import Parity._

/** Relational and window queries: scans, joins, aggregation, set operations,
  * rollups, windows and the SQL surface, plus the layout and data-audit
  * queries that are plain relational plans. */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("q01_pruned_scan", (s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice"))
    }, Some(
      """SELECT l_orderkey, l_partkey, l_extendedprice FROM lineitem
        |WHERE l_shipdate < TIMESTAMP '1996-01-01'""".stripMargin)),

    QuerySpec("q02_agg_pricing", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          count(lit(1)).as("count_order"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"))
    }, Some(
      s"""SELECT l_returnflag, l_linestatus,
         |  CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) AS sum_qty,
         |  CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) AS sum_base_price,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS $D)) AS DOUBLE) AS sum_disc_price,
         |  COUNT(*) AS count_order,
         |  CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) / COUNT(*) AS avg_qty
         |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    QuerySpec("q03_join_broadcast", (s, dir) => {
      // dims broadcast explicitly — region/nation are tiny at any SF
      val c = Tables.customer(s, dir)
      val n = broadcast(Tables.nation(s, dir))
      val r = broadcast(Tables.region(s, dir))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_acctbal"))
    }, Some(
      s"""SELECT r_name, n_name, COUNT(*) AS n_cust,
         |  CAST(SUM(CAST(c_acctbal AS $D)) AS DOUBLE) AS total_acctbal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY r_name, n_name""".stripMargin)),

    QuerySpec("q04_join_agg", (s, dir) => {
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          countDistinct(col("o_orderkey")).as("n_orders"))
    }, Some(
      s"""SELECT o_orderpriority,
         |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS $D)) AS DOUBLE) AS revenue,
         |  COUNT(DISTINCT o_orderkey) AS n_orders
         |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         |GROUP BY o_orderpriority""".stripMargin)),

    QuerySpec("q05_semi_join", (s, dir) => {
      val o = Tables.orders(s, dir)
      val big = Tables.lineitem(s, dir).filter(col("l_quantity") >= 49)
      o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
        .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    }, Some(
      """SELECT o_orderstatus, COUNT(*) AS n FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 49)
        |GROUP BY o_orderstatus""".stripMargin)),

    QuerySpec("q06_anti_join", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }, Some(
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin)),

    QuerySpec("q50_right_outer", (s, dir) => {
      // every nation, with supplier counts (nulls -> 0 for dims without
      // suppliers): aggregated fact RIGHT OUTER dim
      val sup = Tables.supplier(s, dir)
        .groupBy(col("s_nationkey")).agg(count(lit(1)).as("cnt"))
      val n = Tables.nation(s, dir)
      sup.join(n, sup("s_nationkey") === n("n_nationkey"), "right_outer")
        .select(col("n_nationkey"), col("n_name"),
          coalesce(col("cnt"), lit(0L)).as("n_suppliers"))
    }, Some(
      """SELECT n_nationkey, n_name, CAST(coalesce(cnt, 0) AS BIGINT) AS n_suppliers
        |FROM (SELECT s_nationkey, COUNT(*) AS cnt FROM supplier GROUP BY s_nationkey) sup
        |RIGHT OUTER JOIN nation ON s_nationkey = n_nationkey""".stripMargin)),

    QuerySpec("q51_full_outer", (s, dir) => {
      val o = Tables.orders(s, dir)
      val f = o.filter(col("o_orderstatus") === "F")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_f"))
        .select(col("o_custkey").as("ck_f"), col("n_f"))
      val p = o.filter(col("o_orderstatus") === "P")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_p"))
        .select(col("o_custkey").as("ck_p"), col("n_p"))
      f.join(p, col("ck_f") === col("ck_p"), "full_outer")
        .select(coalesce(col("ck_f"), col("ck_p")).as("custkey"),
          coalesce(col("n_f"), lit(0L)).as("n_f"),
          coalesce(col("n_p"), lit(0L)).as("n_p"))
    }, Some(
      """WITH f AS (SELECT o_custkey AS ck_f, COUNT(*) AS n_f FROM orders
        |           WHERE o_orderstatus = 'F' GROUP BY o_custkey),
        |p AS (SELECT o_custkey AS ck_p, COUNT(*) AS n_p FROM orders
        |      WHERE o_orderstatus = 'P' GROUP BY o_custkey)
        |SELECT coalesce(ck_f, ck_p) AS custkey,
        |       CAST(coalesce(n_f, 0) AS BIGINT) AS n_f,
        |       CAST(coalesce(n_p, 0) AS BIGINT) AS n_p
        |FROM f FULL OUTER JOIN p ON ck_f = ck_p""".stripMargin)),

    QuerySpec("q07_window_topn", (s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }, Some(
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) t WHERE rn <= 3""".stripMargin)),

    QuerySpec("q08_window_running", (s, dir) => {
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data
      // (118k dup pairs at sf0.1, one with differing quantities on the
      // same suppkey+shipdate) — lag over a non-total order is
      // nondeterministic ACROSS ENGINES (DuckDB flips run-to-run).
      // quantity+extendedprice complete the order; rows tying on all
      // six keys are interchangeable for every output column.
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
      Tables.lineitem(s, dir).select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("l_quantity").cast(DecimalType(18, 4)))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_qty"),
        lag(col("l_quantity"), 1).over(w).as("prev_qty"))
    }, Some(
      s"""SELECT l_suppkey, l_orderkey, l_linenumber,
         |  CAST(SUM(CAST(l_quantity AS $D)) OVER (
         |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty,
         |  lag(l_quantity, 1) OVER (
         |    PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice) AS prev_qty
         |FROM lineitem""".stripMargin)),

    QuerySpec("q09_except", (s, dir) => {
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .except(o.filter(col("o_orderstatus") === "O").select(col("o_custkey")))
    }, Some(
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |EXCEPT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'""".stripMargin)),

    QuerySpec("q10_intersect", (s, dir) => {
      val o = Tables.orders(s, dir)
      o.filter(col("o_orderstatus") === "F").select(col("o_custkey"))
        .intersect(o.filter(col("o_orderstatus") === "P").select(col("o_custkey")))
    }, Some(
      """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |INTERSECT
        |SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'""".stripMargin)),

    QuerySpec("q11_rollup", (s, dir) => {
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }, Some(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) AS sum_qty
         |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin)),

    QuerySpec("q12_cube", (s, dir) => {
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    }, Some(
      """SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin)),

    QuerySpec("q13_topk", (s, dir) => {
      Tables.orders(s, dir)
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_totalprice"))
    }, Some(
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin)),

    QuerySpec("q14_theta_join", (s, dir) => {
      val n1 = Tables.nation(s, dir).select(
        col("n_regionkey"), col("n_nationkey").as("k1"), col("n_name").as("nation_a"))
      val n2 = Tables.nation(s, dir).select(
        col("n_regionkey"), col("n_nationkey").as("k2"), col("n_name").as("nation_b"))
      n1.join(n2, Seq("n_regionkey")).filter(col("k1") < col("k2"))
        .select(col("n_regionkey"), col("nation_a"), col("nation_b"))
    }, Some(
      """SELECT n1.n_regionkey, n1.n_name AS nation_a, n2.n_name AS nation_b
        |FROM nation n1 JOIN nation n2
        |  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey""".stripMargin)),

    QuerySpec("q42_grouping_sets", (s, dir) => {
      // Spark 4 groupingSets API — no temp view / SQL parse per call
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
    }, Some(
      s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_quantity AS $D)) AS DOUBLE) AS sum_qty
         |FROM lineitem
         |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())""".stripMargin)),

    QuerySpec("q43_window_frames", (s, dir) => {
      // range frame (value-based) + lead/first over a unique total order
      val wRange = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice")).rangeBetween(-100L, 0L)
      val wSeq = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
        sum(col("o_totalprice").cast(DecimalType(18, 4))).over(wRange)
          .cast("double").as("range_sum"),
        lead(col("o_orderkey"), 1).over(wSeq).as("next_key"),
        first(col("o_orderkey")).over(wSeq).as("first_key"))
    }, Some(
      s"""SELECT o_orderkey, o_orderstatus, o_totalprice,
         |  CAST(SUM(CAST(o_totalprice AS $D)) OVER (
         |    PARTITION BY o_orderstatus ORDER BY o_totalprice
         |    RANGE BETWEEN 100 PRECEDING AND CURRENT ROW) AS DOUBLE) AS range_sum,
         |  lead(o_orderkey, 1) OVER w AS next_key,
         |  first_value(o_orderkey) OVER w AS first_key
         |FROM orders
         |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)""".stripMargin)),

    QuerySpec("q44_pivot", (s, dir) => {
      // pivot event counts by type per day; fixed value list keeps the
      // plan a single pass (no values-discovery job)
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
        .agg(count(lit(1)))
        .na.fill(0L)
    }, Some(
      s"""$evCte
         |SELECT date_trunc('day', ts) AS day,
         |  COUNT(*) FILTER (event_type = 'click') AS click,
         |  COUNT(*) FILTER (event_type = 'view') AS view,
         |  COUNT(*) FILTER (event_type = 'purchase') AS purchase,
         |  COUNT(*) FILTER (event_type = 'signup') AS signup,
         |  COUNT(*) FILTER (event_type = 'error') AS error
         |FROM ev GROUP BY 1""".stripMargin)),

    QuerySpec("q45_correlated_subquery", (s, dir) => {
      // per-customer order stats via join-agg (the idiomatic decorrelated
      // plan Catalyst produces for a correlated scalar subquery)
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val agg = o.groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), max(col("o_totalprice")).as("max_price"))
      c.join(agg, c("c_custkey") === agg("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"), col("max_price"))
    }, Some(
      """SELECT c_custkey, c_name,
        |  CAST(coalesce((SELECT COUNT(*) FROM orders WHERE o_custkey = c_custkey), 0) AS BIGINT) AS n_orders,
        |  (SELECT MAX(o_totalprice) FROM orders WHERE o_custkey = c_custkey) AS max_price
        |FROM customer""".stripMargin)),

    QuerySpec("q47_map_funcs", (s, dir) => {
      // props JSON -> map, explode keys, sum values (SURVEY §2.5 Map row)
      Tables.events(s, dir)
        .select(explode(from_json(col("props"), MapType(StringType, LongType))).as(Seq("k", "v")))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"))
    }, Some(
      """WITH kv AS (
        |  SELECT unnest(json_keys(props)) AS k,
        |         CAST(json_extract_string(props, '$.' || unnest(json_keys(props))) AS BIGINT) AS v
        |  FROM events)
        |SELECT k, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS sum_v
        |FROM kv GROUP BY k""".stripMargin)),

    QuerySpec("q58_window_dist", (s, dir) => {
      // distribution window functions over a unique total order
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir).select(
        col("o_orderkey"), col("o_orderstatus"),
        ntile(4).over(w).cast("long").as("bucket"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
    }, Some(
      """SELECT o_orderkey, o_orderstatus,
        |  CAST(ntile(4) OVER w AS BIGINT) AS bucket,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)""".stripMargin)),

    QuerySpec("q67_unpivot", (s, dir) => {
      // wide -> long reshape via stack (the inverse of q44's pivot):
      // 4 measure columns melt to (name, value) rows, pure codegen
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") < 100)
        .select(col("l_orderkey"), col("l_linenumber"),
          expr("""stack(4,
            'l_quantity', l_quantity,
            'l_extendedprice', l_extendedprice,
            'l_discount', l_discount,
            'l_tax', l_tax) AS (name, value)"""))
    }, Some(
      """SELECT l_orderkey, l_linenumber, name, CAST(value AS DOUBLE) AS value
        |FROM (SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax
        |      FROM lineitem WHERE l_orderkey < 100)
        |UNPIVOT (value FOR name IN (l_quantity, l_extendedprice, l_discount, l_tax))""".stripMargin)),

    QuerySpec("q76_range_join", (s, dir) => {
      // bucketized interval join: clicks matched to the 30-minute windows
      // opened by a deterministic subset of purchases. NO equi key exists,
      // yet the plan must not be a nested-loop join — RangeJoin buckets
      // both sides (width = window length) and equi-joins on the bucket
      // (CurationSpec gates the plan against BNLJ/CartesianProduct).
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("ts").as("click_ts"))
      val wins = ev.filter(col("event_type") === "purchase" && col("event_id") % 97 === 0)
        .select(col("event_id").as("win_id"), col("ts").as("win_start"),
          (col("ts") + expr("INTERVAL 30 minutes")).as("win_end"))
      RangeJoin.pointInInterval(clicks, col("click_ts"),
          wins, col("win_start"), col("win_end"), bucketWidthSec = 1800L)
        .select(col("click_id"), col("win_id"), col("click_ts"))
    }, Some(
      s"""$evCte,
         |c AS (SELECT event_id AS click_id, ts AS click_ts
         |      FROM ev WHERE event_type = 'click'),
         |w AS (SELECT event_id AS win_id, ts AS win_start,
         |             ts + INTERVAL 30 MINUTE AS win_end
         |      FROM ev WHERE event_type = 'purchase' AND event_id % 97 = 0)
         |SELECT click_id, win_id, click_ts
         |FROM c JOIN w ON click_ts >= win_start AND click_ts <= win_end""".stripMargin)),

    QuerySpec("q88_salted_join", (s, dir) => {
      // the skew-mitigation join as an ORACLE-checked query: salting
      // must redistribute rows without changing semantics, so the oracle
      // is the PLAIN equi-join. Salt derives from the fact row identity
      // (deterministic — task retries reproduce identical shuffles); the
      // dim side replicates 8×.
      val li = Tables.lineitem(s, dir)
      val dim = Tables.part(s, dir).select(col("p_partkey").as("l_partkey"), col("p_size"))
      graft.operators.Skew.saltedJoin(li, dim, "l_partkey",
          concat_ws("_", col("l_orderkey"), col("l_linenumber")), salts = 8)
        .groupBy(col("p_size").cast("long").as("p_size"))
        .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("revenue"))
    }, Some(
      s"""SELECT CAST(p_size AS BIGINT) AS p_size, COUNT(*) AS n,
         |  CAST(SUM(CAST(l_extendedprice AS $D)) AS DOUBLE) AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY p_size""".stripMargin)),

    QuerySpec("q93_sql_text", (s, dir) => {
      // the SQL-TEXT surface end-to-end: temp view + the injected native
      // codegen expression (cosine_sim via GraftExtensions) inside a SQL
      // string — must plan the identical expression as the Scala DSL and
      // bit-match DuckDB's list_cosine_similarity. Pairs blocked on the
      // label equi-key (never all-pairs).
      GraftExtensions.register(s)
      Tables.embeddings(s, dir).createOrReplaceTempView("emb_sql")
      s.sql("""
        SELECT a.vec_id AS key_a, b.vec_id AS key_b,
               cosine_sim(a.embedding, b.embedding) AS cosine
        FROM emb_sql a JOIN emb_sql b
          ON a.label = b.label AND a.vec_id < b.vec_id
        WHERE cosine_sim(a.embedding, b.embedding) >= 0.5""")
    }, Some(
      """SELECT a.vec_id AS key_a, b.vec_id AS key_b,
        |  list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) AS cosine
        |FROM embeddings a JOIN embeddings b
        |  ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= 0.5""".stripMargin)),

    QuerySpec("q153_skew_report", (s, dir) => {
      // join-skew diagnostics: per-key frequency stats of the join
      // column (top-10 hottest keys + their share and the max/avg skew
      // factor) — the report that decides between plain join, AQE
      // skewJoin and Skew.adaptiveSalts BEFORE a 100 TB shuffle is
      // paid. Two tiny aggs over one keyed count.
      val counts = Dedup.cacheScoped(Tables.lineitem(s, dir)
        .groupBy(col("l_partkey")).agg(count(lit(1)).as("c")))
      val tot = counts.agg(sum(col("c")).as("total"), count(lit(1)).as("n_keys"),
        max(col("c")).as("max_c"))
      counts.crossJoin(broadcast(tot))
        .orderBy(desc("c"), col("l_partkey"))
        .limit(10)
        .select(col("l_partkey"), col("c"),
          pround(col("c").cast("double") / col("total"), 9).as("share"),
          // cast BEFORE multiplying: max_c * n_keys in long arithmetic
          // overflows at production cardinalities (Spark wraps silently,
          // DuckDB raises — both wrong); double * double does not
          pround(col("max_c").cast("double") * col("n_keys").cast("double")
              / col("total").cast("double"), 9)
            .as("skew_factor"))
    }, Some(
      """WITH c AS (SELECT l_partkey, COUNT(*) AS c FROM lineitem GROUP BY l_partkey),
        |t AS (SELECT SUM(c) AS total, COUNT(*) AS n_keys, MAX(c) AS max_c FROM c)
        |SELECT l_partkey, CAST(c AS BIGINT) AS c,
        |  round(CAST(c AS DOUBLE) / total, 9) AS share,
        |  round(CAST(max_c AS DOUBLE) * CAST(n_keys AS DOUBLE) / CAST(total AS DOUBLE), 9) AS skew_factor
        |FROM c, t ORDER BY c DESC, l_partkey LIMIT 10""".stripMargin)),

    QuerySpec("q142_snapshot_diff", (s, dir) => {
      // corpus snapshot diff: added / removed / changed / unchanged
      // between two versions (yesterday = first 400 docs with every
      // (doc_id % 100 == 50) doc edited — synthesized deterministically,
      // the q74 planted-input pattern). Full-outer join on the key,
      // change detection on content hash; the report every dataset
      // release pipeline prints.
      val today = Tables.documents(s, dir).select(col("doc_id"), md5(col("text")).as("h_t"))
      val yesterday = Tables.documents(s, dir)
        .filter(col("doc_id") < 400)
        .select(col("doc_id"),
          md5(when(col("doc_id") % 100 === 50, concat(col("text"), lit(" edited")))
            .otherwise(col("text"))).as("h_y"))
      today.join(yesterday, Seq("doc_id"), "full_outer")
        .select(when(col("h_y").isNull, "added")
          .when(col("h_t").isNull, "removed")
          .when(col("h_t") =!= col("h_y"), "changed")
          .otherwise("unchanged").as("status"))
        .groupBy(col("status")).agg(count(lit(1)).as("n"))
    }, Some(
      """WITH t AS (SELECT doc_id, md5(text) AS h_t FROM documents),
        |y AS (SELECT doc_id,
        |        md5(CASE WHEN doc_id % 100 = 50 THEN text || ' edited' ELSE text END) AS h_y
        |      FROM documents WHERE doc_id < 400)
        |SELECT CASE WHEN h_y IS NULL THEN 'added'
        |            WHEN h_t IS NULL THEN 'removed'
        |            WHEN h_t != h_y THEN 'changed'
        |            ELSE 'unchanged' END AS status, COUNT(*) AS n
        |FROM t FULL OUTER JOIN y USING (doc_id)
        |GROUP BY 1""".stripMargin)),

    QuerySpec("q130_data_contracts", (s, dir) => {
      // data-contract checks (dbt-test / expectation-suite shape): each
      // rule is a conditional agg over ONE scan of its table; the FK
      // rule is a broadcast-key anti-join probe. Returns violation
      // counts per rule — the report a 100 TB ingest gates on.
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val rowRules = li.agg(
        sum((col("l_quantity") < 1 || col("l_quantity") > 50).cast("long")).as("qty_range"),
        sum((col("l_extendedprice") <= 0).cast("long")).as("price_positive"),
        sum((col("l_shipdate").isNull).cast("long")).as("shipdate_null"))
      val fkViolations = li.join(ord.select(col("o_orderkey").as("l_orderkey")),
          Seq("l_orderkey"), "left_anti")
        .agg(count(lit(1)).as("fk_orphans"))
      rowRules.crossJoin(fkViolations)
        .select(
          struct(lit("lineitem_qty_1_50").as("rule"), col("qty_range").as("violations")).as("r1"),
          struct(lit("lineitem_price_gt0").as("rule"), col("price_positive").as("violations")).as("r2"),
          struct(lit("lineitem_shipdate_not_null").as("rule"), col("shipdate_null").as("violations")).as("r3"),
          struct(lit("lineitem_orderkey_fk").as("rule"), col("fk_orphans").as("violations")).as("r4"))
        .select(explode(array(col("r1"), col("r2"), col("r3"), col("r4"))).as("x"))
        .select(col("x.rule").as("rule"), col("x.violations").as("violations"))
    }, Some(
      """WITH r AS (SELECT
        |  SUM(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS qty_range,
        |  SUM(CASE WHEN l_extendedprice <= 0 THEN 1 ELSE 0 END) AS price_positive,
        |  SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS shipdate_null
        |FROM lineitem),
        |fk AS (SELECT COUNT(*) AS fk_orphans FROM lineitem l
        |       WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |SELECT 'lineitem_qty_1_50' AS rule, CAST(qty_range AS BIGINT) AS violations FROM r
        |UNION ALL
        |SELECT 'lineitem_price_gt0', CAST(price_positive AS BIGINT) FROM r
        |UNION ALL
        |SELECT 'lineitem_shipdate_not_null', CAST(shipdate_null AS BIGINT) FROM r
        |UNION ALL
        |SELECT 'lineitem_orderkey_fk', CAST(fk_orphans AS BIGINT) FROM fk""".stripMargin)),

    QuerySpec("q120_zorder_layout", (s, dir) => {
      // Z-order layout audit: Morton-interleave (user_id, props.k) into
      // one clustering key, bucket by its high bits, and report each
      // bucket's per-dimension bounding box — the zone-map ranges a scan
      // would prune against. Z-order buckets box BOTH dimensions tightly
      // (8×8 grid cells here); a single-column range layout would bound
      // one and leave the other full-range (ScaleSpec quantifies it).
      val ev = Tables.events(s, dir)
        .select(col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
      ev.withColumn("z", Layout.zValue(col("user_id"), col("k"), bits = 8))
        .withColumn("bucket", shiftrightunsigned(col("z"), 10))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("user_id")).as("u_min"), max(col("user_id")).as("u_max"),
          min(col("k")).as("k_min"), max(col("k")).as("k_max"))
    }, Some {
      // the Morton interleave, generated term-by-term (bit ops are
      // identical integer arithmetic in any engine)
      val z = (0 until 8).map(i =>
        s"(((user_id >> $i) & 1) << ${2 * i}) + (((k >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""$evCte,
         |t AS (SELECT user_id, CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k FROM ev),
         |zz AS (SELECT user_id, k, $z AS z FROM t)
         |SELECT CAST(z >> 10 AS BIGINT) AS bucket, COUNT(*) AS n,
         |  MIN(user_id) AS u_min, MAX(user_id) AS u_max,
         |  MIN(k) AS k_min, MAX(k) AS k_max
         |FROM zz GROUP BY bucket""".stripMargin
    }),

    QuerySpec("q173_bloom_anti_join", (s, dir) => {
      // EXACT anti-join at bloom cost — q77's approximate tier promoted
      // to an oracle row by the one-sided bound (the q115 discipline):
      // no false negatives means bloom-cleared rows are DEFINITE
      // non-members (kept map-side, zero shuffle); only the ~1% sliver
      // of possible members pays the exact anti-join that strips the
      // false positives. Output ≡ the plain anti-join the oracle runs.
      val block = Tables.part(s, dir).filter(col("p_size") > 40).select(col("p_partkey"))
      Blocklist.exactAntiJoin(Tables.lineitem(s, dir), col("l_partkey"),
          block, col("p_partkey"), expectedItems = 20000L, fpp = 0.01)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    }, Some(
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size > 40)""".stripMargin)),

    QuerySpec("q171_upsert_latest", (s, dir) => {
      // corpus upsert (MERGE-INTO's keep-latest core): a refresh batch
      // overlays the snapshot, latest version wins per key — one
      // shuffle via max(struct(version, row)) on the key (the q30/q158
      // selection discipline: partial-agg map-side, never a window or
      // a join-back). The refresh batch here is a deterministic
      // re-crawl of every 5th doc with one char appended.
      val old = Tables.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), lit(1L).as("version"))
      val fresh = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
        .select(col("doc_id"), (col("n_chars") + 1).as("n_chars"), lit(2L).as("version"))
      old.unionByName(fresh)
        .groupBy(col("doc_id"))
        .agg(max(struct(col("version"), col("n_chars"))).as("__s"))
        .select(col("doc_id"), col("__s.version").as("version"),
          col("__s.n_chars").as("n_chars"))
    }, Some(
      """WITH old AS (SELECT doc_id, n_chars, 1 AS version FROM documents),
        |fresh AS (SELECT doc_id, n_chars + 1 AS n_chars, 2 AS version
        |          FROM documents WHERE doc_id % 5 = 0),
        |u AS (SELECT * FROM old UNION ALL SELECT * FROM fresh)
        |SELECT doc_id, CAST(MAX(version) AS BIGINT) AS version,
        |  CAST(max_by(n_chars, version) AS BIGINT) AS n_chars
        |FROM u GROUP BY doc_id""".stripMargin)),

    QuerySpec("q172_interval_overlap", (s, dir) => {
      // interval×interval overlap join — q76's generalization where BOTH
      // sides are ranges (ad-windows × session-windows, the scheduling/
      // co-occurrence primitive). Bucketized equi-join, exact predicate
      // inside, and the max-start-bucket guard emits each overlapping
      // pair exactly once — no nested loop, no distinct pass
      // (plan-gated against BNLJ/CartesianProduct).
      val ev = Tables.events(s, dir)
      val a = ev.filter(col("event_type") === "purchase" && col("event_id") % 97 === 0)
        .select(col("event_id").as("win_a"), col("ts").as("a_start"),
          (col("ts") + expr("INTERVAL 30 minutes")).as("a_end"))
      val b = ev.filter(col("event_type") === "click" && col("event_id") % 53 === 0)
        .select(col("event_id").as("win_b"), col("ts").as("b_start"),
          (col("ts") + expr("INTERVAL 10 minutes")).as("b_end"))
      RangeJoin.intervalOverlap(a, col("a_start"), col("a_end"),
          b, col("b_start"), col("b_end"), bucketWidthSec = 1800L)
        .select(col("win_a"), col("win_b"),
          (unix_timestamp(least(col("a_end"), col("b_end")))
            - unix_timestamp(greatest(col("a_start"), col("b_start"))))
            .as("overlap_sec"))
    }, Some(
      s"""$evCte,
         |a AS (SELECT event_id AS win_a, ts AS a_start, ts + INTERVAL 30 MINUTE AS a_end
         |      FROM ev WHERE event_type = 'purchase' AND event_id % 97 = 0),
         |b AS (SELECT event_id AS win_b, ts AS b_start, ts + INTERVAL 10 MINUTE AS b_end
         |      FROM ev WHERE event_type = 'click' AND event_id % 53 = 0)
         |SELECT win_a, win_b,
         |  CAST(epoch_us(least(a_end, b_end)) // 1000000
         |    - epoch_us(greatest(a_start, b_start)) // 1000000 AS BIGINT) AS overlap_sec
         |FROM a JOIN b ON a_start <= b_end AND b_start <= a_end""".stripMargin)),

    QuerySpec("q191_scd2_history", (s, dir) => {
      // slowly-changing-dimension type 2 build (the warehouse staple
      // q142's snapshot diff and q171's keep-latest upsert both stop
      // short of): each user's event_type CHANGES open a validity
      // interval — consecutive repeats collapse first (run-length
      // encode via lag), each interval closes at the next change
      // (lead), the latest stays open (null valid_to). Two window
      // passes on the SAME user_id key — one shuffle, exchange reused;
      // never a self-join against the history.
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
          col("valid_to"), col("valid_to").isNull.as("is_current"))
    }, Some(
      s"""$evCte,
         |c AS (SELECT user_id, ts, event_id, event_type,
         |        lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |      FROM ev),
         |r AS (SELECT user_id, ts, event_id, event_type FROM c
         |      WHERE prev IS NULL OR prev <> event_type)
         |SELECT user_id, event_type, ts AS valid_from,
         |  lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
         |  (lead(ts, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL) AS is_current
         |FROM r""".stripMargin)),

    QuerySpec("q211_scd2_lookup", (s, dir) => {
      // point-in-time dimension lookup — the join q191's SCD-2 build
      // exists FOR: facts enriched with the dimension version valid AT
      // EVENT TIME (as-of-state attribution; joining the current
      // version would leak the future). Dimension: each user's value
      // TIER (floor(value/25)) at their 'view' events, run-length
      // collapsed into [valid_from, valid_to) intervals (q191's two
      // window passes, one user_id shuffle). Facts: 'purchase'
      // events. The lookup is an EQUI-join on user_id with the
      // interval predicate riding the same sort-merge — intervals per
      // user are disjoint by construction, so no range-bucketing is
      // needed (q76's machinery is for the non-equi case).
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val ev = Tables.events(s, dir)
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"),
          floor(col("value") / 25).cast("long").as("tier"))
      val scd = views
        .withColumn("prev", lag(col("tier"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("tier"))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("tier"),
          col("ts").as("valid_from"), col("valid_to"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      purchases.join(scd,
          purchases("user_id") === scd("user_id") &&
            purchases("ts") >= scd("valid_from") &&
            (scd("valid_to").isNull || purchases("ts") < scd("valid_to")))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_purchases"), dsum(col("value")).as("total_value"))
        .orderBy(col("tier"))
    }, Some(
      s"""$evCte,
         |v AS (SELECT user_id, ts, event_id, CAST(FLOOR(value / 25) AS BIGINT) AS tier
         |      FROM ev WHERE event_type = 'view'),
         |r AS (SELECT user_id, ts, event_id, tier,
         |        lag(tier) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
         |      FROM v),
         |ch AS (SELECT user_id, tier, ts AS valid_from,
         |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
         |       FROM r WHERE prev IS NULL OR prev <> tier),
         |p AS (SELECT user_id, ts, value FROM ev WHERE event_type = 'purchase')
         |SELECT tier, COUNT(*) AS n_purchases,
         |  CAST(SUM(CAST(value AS $D)) AS DOUBLE) AS total_value
         |FROM p JOIN ch ON p.user_id = ch.user_id AND p.ts >= ch.valid_from
         |  AND (ch.valid_to IS NULL OR p.ts < ch.valid_to)
         |GROUP BY tier ORDER BY tier""".stripMargin)),

    QuerySpec("q311_zonemap_skip", (s, dir) => {
      // zone-map skip-ratio audit [EXT] — the 100 TB pruning argument
      // made measurable: partition events into 1000-row blocks under
      // two layouts (ts-clustered vs deterministic hash-shuffle — the
      // "what if you don't maintain clustering" counterfactual),
      // compute per-block min/max ts zone maps, and report what
      // fraction of blocks a 3-day range predicate can SKIP and how
      // many rows survive to scan. The q120 Morton audit boxes two
      // dimensions; this quantifies the single-dimension case every
      // time-partitioned table lives or dies by. Block ids come from
      // the two-pass dense-id idiom (DocPipeline.withDenseIds — no
      // global window); block frames are |rows|/1000 and close tiny.
      val lo = to_timestamp(lit("2024-01-10 00:00:00"))
      val hi = to_timestamp(lit("2024-01-13 00:00:00"))
      val ev = Tables.events(s, dir).select(col("event_id"), col("ts"))
      def audit(df: DataFrame, layout: String): DataFrame = {
        val blocks = df.withColumn("blk", floor(col("rid") / 1000))
          .groupBy(col("blk"))
          .agg(min(col("ts")).as("mn"), max(col("ts")).as("mx"),
            count(lit(1)).as("n"))
          .withColumn("skip", col("mx") < lo || col("mn") >= hi)
        blocks.agg(count(lit(1)).as("n_blocks"),
            sum(when(col("skip"), 1L).otherwise(0L)).as("n_skipped"),
            sum(when(col("skip"), 0L).otherwise(col("n"))).as("rows_scanned"))
          .select(lit(layout).as("layout"), col("n_blocks"), col("n_skipped"),
            pround(col("n_skipped").cast("double")
              / col("n_blocks").cast("double"), 9).as("skip_frac"),
            col("rows_scanned"))
      }
      val sorted = graft.operators.DocPipeline.withDenseIds(
        ev, struct(col("ts"), col("event_id")), "rid")
      val shuffled = graft.operators.DocPipeline.withDenseIds(
        ev, struct(md5(col("event_id").cast("string")), col("event_id")), "rid")
      audit(sorted, "ts_clustered").unionAll(audit(shuffled, "hash_shuffled"))
        .orderBy(col("layout"))
    }, Some(
      """WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts FROM events),
        |srt AS (SELECT ts,
        |          (row_number() OVER (ORDER BY ts, event_id) - 1) // 1000 AS blk
        |        FROM ev),
        |shf AS (SELECT ts,
        |          (row_number() OVER (ORDER BY md5(CAST(event_id AS VARCHAR)),
        |            event_id) - 1) // 1000 AS blk
        |        FROM ev),
        |b1 AS (SELECT blk, MIN(ts) AS mn, MAX(ts) AS mx, COUNT(*) AS n
        |       FROM srt GROUP BY 1),
        |b2 AS (SELECT blk, MIN(ts) AS mn, MAX(ts) AS mx, COUNT(*) AS n
        |       FROM shf GROUP BY 1),
        |s1 AS (SELECT 'ts_clustered' AS layout, COUNT(*) AS n_blocks,
        |         SUM(CASE WHEN mx < TIMESTAMP '2024-01-10 00:00:00'
        |               OR mn >= TIMESTAMP '2024-01-13 00:00:00'
        |             THEN 1 ELSE 0 END) AS n_skipped,
        |         SUM(CASE WHEN mx < TIMESTAMP '2024-01-10 00:00:00'
        |               OR mn >= TIMESTAMP '2024-01-13 00:00:00'
        |             THEN 0 ELSE n END) AS rows_scanned
        |       FROM b1),
        |s2 AS (SELECT 'hash_shuffled' AS layout, COUNT(*) AS n_blocks,
        |         SUM(CASE WHEN mx < TIMESTAMP '2024-01-10 00:00:00'
        |               OR mn >= TIMESTAMP '2024-01-13 00:00:00'
        |             THEN 1 ELSE 0 END) AS n_skipped,
        |         SUM(CASE WHEN mx < TIMESTAMP '2024-01-10 00:00:00'
        |               OR mn >= TIMESTAMP '2024-01-13 00:00:00'
        |             THEN 0 ELSE n END) AS rows_scanned
        |       FROM b2),
        |u AS (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
        |SELECT layout, CAST(n_blocks AS BIGINT) AS n_blocks,
        |  CAST(n_skipped AS BIGINT) AS n_skipped,
        |  round(CAST(n_skipped AS DOUBLE) / CAST(n_blocks AS DOUBLE), 9)
        |    AS skip_frac,
        |  CAST(rows_scanned AS BIGINT) AS rows_scanned
        |FROM u ORDER BY layout""".stripMargin)),

    QuerySpec("q321_referential_audit", (s, dir) => {
      // referential-integrity audit across the order graph [EXT] —
      // the data-quality gate an ingest pipeline runs before
      // publishing a snapshot: orphan lineitems (FK → missing order),
      // childless orders, FK coverage rates, and the revenue
      // reconciliation (Σ o_totalprice vs Σ extendedprice·(1−disc)·
      // (1+tax) — the classic "do the rollup columns still agree with
      // the detail" check). Two anti-join counts + exact DECIMAL money
      // sums; one row out. The anti-joins are the q06 shape — null-
      // safe, shuffle on the FK only.
      val li = Tables.lineitem(s, dir)
      val o = Tables.orders(s, dir)
      val orphan = li.join(o.select(col("o_orderkey")),
        li("l_orderkey") === o("o_orderkey"), "left_anti")
      val childless = o.join(li.select(col("l_orderkey")).distinct(),
        o("o_orderkey") === li("l_orderkey"), "left_anti")
      val D = DecimalType(38, 4)
      val liSum = li.agg(count(lit(1)).as("n_lineitems"),
        sum((floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
          * (lit(1.0) + col("l_tax")) * 100 + 0.5)).cast(D)).as("li_cents"))
      val oSum = o.agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast(D)).as("o_cents"))
      val orphanN = orphan.agg(count(lit(1)).as("n_orphan_lineitems"))
      val childN = childless.agg(count(lit(1)).as("n_childless_orders"))
      liSum.crossJoin(oSum).crossJoin(orphanN).crossJoin(childN)
        .select(col("n_lineitems"), col("n_orders"),
          col("n_orphan_lineitems"), col("n_childless_orders"),
          pround(lit(1.0) - col("n_orphan_lineitems").cast("double")
            / col("n_lineitems").cast("double"), 9).as("fk_coverage"),
          (col("li_cents").cast("double") / 100.0).as("lineitem_revenue"),
          (col("o_cents").cast("double") / 100.0).as("order_revenue"),
          pround(col("li_cents").cast("double") / col("o_cents").cast("double"),
            9).as("reconciliation_ratio"))
    }, Some(
      """WITH ls AS (SELECT COUNT(*) AS n_lineitems,
        |    SUM(CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
        |      * 100 + 0.5) AS HUGEINT)) AS li_cents
        |  FROM lineitem),
        |os AS (SELECT COUNT(*) AS n_orders,
        |    SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS HUGEINT)) AS o_cents
        |  FROM orders),
        |orp AS (SELECT COUNT(*) AS n_orphan FROM lineitem
        |        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |chl AS (SELECT COUNT(*) AS n_childless FROM orders
        |        WHERE o_orderkey NOT IN (SELECT l_orderkey FROM lineitem))
        |SELECT CAST(n_lineitems AS BIGINT) AS n_lineitems,
        |  CAST(n_orders AS BIGINT) AS n_orders,
        |  CAST(n_orphan AS BIGINT) AS n_orphan_lineitems,
        |  CAST(n_childless AS BIGINT) AS n_childless_orders,
        |  round(1.0 - CAST(n_orphan AS DOUBLE) / CAST(n_lineitems AS DOUBLE), 9)
        |    AS fk_coverage,
        |  CAST(li_cents AS DOUBLE) / 100.0 AS lineitem_revenue,
        |  CAST(o_cents AS DOUBLE) / 100.0 AS order_revenue,
        |  round(CAST(li_cents AS DOUBLE) / CAST(o_cents AS DOUBLE), 9)
        |    AS reconciliation_ratio
        |FROM ls CROSS JOIN os CROSS JOIN orp CROSS JOIN chl""".stripMargin)),

    QuerySpec("q324_snapshot_diff", (s, dir) => {
      // snapshot diff (data-diff operator) [EXT] — the table-to-table
      // reconciliation an ingest pipeline runs between yesterday's and
      // today's snapshot: keys added / removed / value-changed /
      // unchanged, from ONE full-outer join on the key (the q51 shape;
      // both sides shuffle once on event_id, counts close in a 1-row
      // agg). Snapshots are deterministic slices of the fixture
      // (A drops id%100=7, B drops id%100=13 and perturbs value on
      // id%50=3) — the OPERATOR is the deliverable, the slices make
      // every diff class non-empty at every SF.
      val ev = Tables.events(s, dir).select(col("event_id"), col("value"))
      val a = ev.filter(col("event_id") % 100 =!= 7)
        .select(col("event_id").as("k"), col("value").as("va"))
      val b = ev.filter(col("event_id") % 100 =!= 13)
        .select(col("event_id").as("k"),
          when(col("event_id") % 50 === 3, col("value") + 1.0)
            .otherwise(col("value")).as("vb"))
      a.join(b, Seq("k"), "full_outer")
        .agg(
          sum(when(col("va").isNotNull, 1L).otherwise(0L)).as("n_a"),
          sum(when(col("vb").isNotNull, 1L).otherwise(0L)).as("n_b"),
          sum(when(col("va").isNull && col("vb").isNotNull, 1L).otherwise(0L))
            .as("added"),
          sum(when(col("va").isNotNull && col("vb").isNull, 1L).otherwise(0L))
            .as("removed"),
          sum(when(col("va").isNotNull && col("vb").isNotNull
            && col("va") =!= col("vb"), 1L).otherwise(0L)).as("changed"),
          sum(when(col("va").isNotNull && col("vb").isNotNull
            && col("va") === col("vb"), 1L).otherwise(0L)).as("unchanged"))
    }, Some(
      """WITH ev AS (SELECT event_id, value FROM events),
        |a AS (SELECT event_id AS k, value AS va FROM ev
        |      WHERE event_id % 100 <> 7),
        |b AS (SELECT event_id AS k,
        |        CASE WHEN event_id % 50 = 3 THEN value + 1.0 ELSE value END AS vb
        |      FROM ev WHERE event_id % 100 <> 13)
        |SELECT
        |  CAST(SUM(CASE WHEN va IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(SUM(CASE WHEN vb IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(SUM(CASE WHEN va IS NULL AND vb IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS added,
        |  CAST(SUM(CASE WHEN va IS NOT NULL AND vb IS NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS removed,
        |  CAST(SUM(CASE WHEN va IS NOT NULL AND vb IS NOT NULL AND va <> vb
        |    THEN 1 ELSE 0 END) AS BIGINT) AS changed,
        |  CAST(SUM(CASE WHEN va IS NOT NULL AND vb IS NOT NULL AND va = vb
        |    THEN 1 ELSE 0 END) AS BIGINT) AS unchanged
        |FROM a FULL OUTER JOIN b USING (k)""".stripMargin)),

    QuerySpec("q327_incremental_rollup", (s, dir) => {
      // incremental rollup maintenance (IVM merge) [EXT] — the "never
      // recompute history" pattern at 100 TB: yesterday's materialized
      // per-(type, day) rollup MERGES with today's delta pre-agg
      // (counts add, exact DECIMAL sums add — the same mergeable-state
      // law partial aggregation rides), provably ≡ the full recompute
      // the oracle performs. The cutoff splits the fixture into
      // base/delta; provenance columns show the merge actually mixed
      // (the cutoff day carries mass from BOTH sides). Each half
      // pre-aggregates before the union — the merge input is rollup-
      // sized, never row-sized.
      val cut = to_timestamp(lit("2024-01-20 12:00:00"))
      val D = DecimalType(38, 0)
      def roll(df: DataFrame, tag: String) = df
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as(s"n_$tag"),
          sum(floor(col("value") * 100 + 0.5).cast(D)).as(s"c_$tag"))
      val ev = Tables.events(s, dir)
      val base = roll(ev.filter(col("ts") < cut), "base")
      val delta = roll(ev.filter(col("ts") >= cut), "delta")
      base.join(delta, Seq("event_type", "day"), "full_outer")
        .select(col("event_type"), col("day"),
          (coalesce(col("n_base"), lit(0L))
            + coalesce(col("n_delta"), lit(0L))).as("n"),
          ((coalesce(col("c_base"), lit(0L).cast(D))
            + coalesce(col("c_delta"), lit(0L).cast(D))).cast("double") / 100.0)
            .as("total_value"),
          coalesce(col("n_base"), lit(0L)).as("n_from_base"),
          coalesce(col("n_delta"), lit(0L)).as("n_from_delta"))
        .orderBy(col("event_type"), col("day"))
    }, Some(
      """WITH ev AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, value
        |  FROM events),
        |base AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS nb,
        |           SUM(CAST(FLOOR(value * 100 + 0.5) AS HUGEINT)) AS cb
        |         FROM ev WHERE ts < TIMESTAMP '2024-01-20 12:00:00'
        |         GROUP BY 1, 2),
        |delta AS (SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS nd,
        |            SUM(CAST(FLOOR(value * 100 + 0.5) AS HUGEINT)) AS cd
        |          FROM ev WHERE ts >= TIMESTAMP '2024-01-20 12:00:00'
        |          GROUP BY 1, 2)
        |SELECT event_type, day,
        |  CAST(COALESCE(nb, 0) + COALESCE(nd, 0) AS BIGINT) AS n,
        |  CAST(COALESCE(cb, 0) + COALESCE(cd, 0) AS DOUBLE) / 100.0
        |    AS total_value,
        |  CAST(COALESCE(nb, 0) AS BIGINT) AS n_from_base,
        |  CAST(COALESCE(nd, 0) AS BIGINT) AS n_from_delta
        |FROM base FULL OUTER JOIN delta USING (event_type, day)
        |ORDER BY event_type, day""".stripMargin)),

    QuerySpec("q336_fanout_audit", (s, dir) => {
      // join-fanout audit (orders ⋈ lineitem) [EXT] — the pre-flight
      // that predicts whether a join EXPLODES: per-key match counts
      // (childless keys included at 0 via the left join), max / mean /
      // exact P99 fanout (selector — no per-group buffer), and the
      // count of keys fanning out past 2× the mean (the skew tail a
      // salted join would target). One grouped count + tiny closes.
      val o = Tables.orders(s, dir).select(col("o_orderkey"))
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"))
      // r19 (guide §2.3, aggregate before you shuffle): lineitem rolls
      // up to per-key counts BEFORE the join, so the exchange carries
      // one row per key instead of every lineitem row; summing the
      // pre-counts per o_orderkey group reproduces the old per-row
      // conditional count exactly (childless keys coalesce to 0).
      val cnt = li.groupBy(col("l_orderkey")).agg(count(lit(1)).as("c"))
      val fan = Dedup.cacheScoped(o.join(cnt,
          o("o_orderkey") === cnt("l_orderkey"), "left")
        .groupBy(col("o_orderkey"))
        .agg(sum(coalesce(col("c"), lit(0L))).as("fanout"))
        .select(lit("all").as("g"), col("fanout")))
      val p99 = graft.operators.Selection.exactGroupedQuantiles(
          fan, "g", "fanout", Seq(0.99))
        .select(col("value").as("p99"))
      val st = fan.agg(count(lit(1)).as("n_keys"),
        sum(col("fanout")).as("n_rows"), max(col("fanout")).as("max_fanout"))
      val mean = col("n_rows").cast("double") / col("n_keys").cast("double")
      val over = fan.crossJoin(broadcast(st))
        .filter(col("fanout").cast("double") > lit(2.0) * mean)
        .agg(count(lit(1)).as("n_keys_over_2x"))
      st.crossJoin(broadcast(p99)).crossJoin(broadcast(over))
        .select(col("n_keys"), col("n_rows"), col("max_fanout"),
          pround(mean, 9).as("mean_fanout"),
          pround(col("p99"), 9).as("p99_fanout"), col("n_keys_over_2x"))
    }, Some(
      """WITH f AS (SELECT o.o_orderkey, COUNT(l.l_orderkey) AS fanout
        |           FROM orders o LEFT JOIN lineitem l
        |             ON l.l_orderkey = o.o_orderkey GROUP BY 1),
        |st AS (SELECT COUNT(*) AS n_keys, SUM(fanout) AS n_rows,
        |         MAX(fanout) AS max_fanout FROM f),
        |p AS (SELECT quantile_cont(CAST(fanout AS DOUBLE), 0.99) AS p99 FROM f),
        |ov AS (SELECT COUNT(*) AS n_keys_over FROM f, st
        |       WHERE CAST(fanout AS DOUBLE)
        |         > 2.0 * (CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE)))
        |SELECT CAST(n_keys AS BIGINT) AS n_keys, CAST(n_rows AS BIGINT) AS n_rows,
        |  CAST(max_fanout AS BIGINT) AS max_fanout,
        |  round(CAST(n_rows AS DOUBLE) / CAST(n_keys AS DOUBLE), 9) AS mean_fanout,
        |  round(p99, 9) AS p99_fanout,
        |  CAST(n_keys_over AS BIGINT) AS n_keys_over_2x
        |FROM st, p, ov""".stripMargin)),
  )
}
