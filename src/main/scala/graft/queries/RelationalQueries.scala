package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import Shared._

/** Relational analytics over the synthetic star schema and the events
  * table: wide and grouping-set aggregates, windowed ranks, semi/anti
  * joins, sketches, sampling, percentiles and normalization. */
object RelationalQueries extends QueryFamily("relational") {

  /** q12's oracle, shared by q45 (the bounded-heap aggregate). */
  private lazy val TopKOrdersOracle: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rank FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    row_number() OVER (PARTITION BY o_custkey
      |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank
      |  FROM orders) WHERE rank <= 3""".stripMargin

  val all: Seq[Query] = Seq(
    // ---- classic wide aggregation (TPC-H Q1 shape) ----
    query("q10_agg_lineitem")((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          moneySum(col("l_extendedprice")).as("sum_price"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("n"))
    }) {
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  round(avg(l_discount), 6) AS avg_disc,
        |  count(*) AS n
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY 1, 2""".stripMargin
    },

    // ---- multi-way broadcast join + agg ----
    query("q11_revenue_by_region")((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val n = t(s, dir, "nation"); val r = t(s, dir, "region")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), date_trunc("month", col("o_orderdate")).cast("date").as("month"))
        .agg(moneySum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n_orders"))
    }) {
      """SELECT r_name, CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1, 2""".stripMargin
    },

    // ---- window top-k ----
    query("q12_topk_orders_per_customer")((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      t(s, dir, "orders")
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rank"))
    })(TopKOrdersOracle),

    // ---- distinct aggregation ----
    query("q33_distinct_daily_users")((s, dir) =>
      events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(countDistinct(col("user_id")).as("users"),
          count(lit(1)).as("events"))) {
      """SELECT CAST(ts AS DATE) AS day,
        |       count(DISTINCT user_id) AS users, count(*) AS events
        |FROM events GROUP BY 1""".stripMargin
    },

    // ---- rollup (hierarchical grouping sets) ----
    query("q34_rollup_revenue")((s, dir) => {
      val o = t(s, dir, "orders"); val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .rollup(col("n_name"), year(col("o_orderdate")).as("yr"))
        .agg(moneySum(col("o_totalprice")).as("revenue"), count(lit(1)).as("n"))
    }) {
      """SELECT n_name, yr,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n
        |FROM (SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS yr, o_totalprice
        |      FROM orders JOIN customer ON o_custkey = c_custkey
        |      JOIN nation ON c_nationkey = n_nationkey)
        |GROUP BY ROLLUP (n_name, yr)""".stripMargin
    },

    // ---- semi / anti joins ----
    query("q37_semi_anti_join")((s, dir) => {
      val c = t(s, dir, "customer")
      val o95 = t(s, dir, "orders")
        .filter(year(col("o_orderdate")) === 1995)
      val active = c.join(o95, c("c_custkey") === o95("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("active").as("status"))
      val inactive = c.join(o95, c("c_custkey") === o95("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("inactive").as("status"))
      active.unionByName(inactive)
    }) {
      """SELECT c_custkey, 'active' AS status FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)
        |UNION ALL
        |SELECT c_custkey, 'inactive' AS status FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND year(o_orderdate) = 1995)""".stripMargin
    },

    // ---- KMV distinct-count sketch (custom TypedImperativeAggregate;
    // deterministic, so even the ESTIMATE is oracle-checked) ----
    query("q38_kmv_distinct")((s, dir) => {
      import graft.functions.KmvDistinct.kmv_distinct
      import graft.functions.PortableHash.portable_hash
      t(s, dir, "lineitem")
        .select(date_trunc("month", col("l_shipdate")).cast("date").as("month"),
          portable_hash(col("l_orderkey").cast("string")).as("h"))
        .groupBy(col("month"))
        .agg(kmv_distinct(col("h"), 64).as("orders_est"),
          count(lit(1)).as("rows"))
    }) {
      s"""WITH h AS (
         |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         |         (1566083941 * ((${hashSql("CAST(l_orderkey AS VARCHAR)")}) + 1))
         |           % 1000000007 AS g
         |  FROM lineitem),
         |g AS (SELECT month, count(*) AS rows,
         |        list_sort(list_distinct(list(g))) AS hs
         |      FROM h GROUP BY month)
         |SELECT month,
         |  CASE WHEN len(hs) < 64 THEN CAST(len(hs) AS DOUBLE)
         |       ELSE floor((63.0 * 1000000007.0 / hs[64] - 1.0) * 10000 + 0.5) / 10000
         |  END AS orders_est,
         |  rows
         |FROM g""".stripMargin
    },

    // ---- running (cumulative) windowed sum ----
    query("q35_running_sum")((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      t(s, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("run_total"))
    }) {
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
        |          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_total
        |FROM orders""".stripMargin
    },

    // ---- deterministic stratified sampling: per-event-type keep rates
    // as a pure hash predicate (reproducible, shuffle-free) ----
    query("q44_stratified_sample")((s, dir) =>
      graft.operators.Sampling.stratifiedHashSample(
        events(s, dir).select(col("event_id"), col("user_id"), col("ts"),
          col("event_type"), col("value")),
        idCol = col("event_id"), stratumCol = col("event_type"),
        rates = Map("view" -> 10, "click" -> 50, "purchase" -> 100),
        defaultPct = 25)) {
      s"""SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts,
         |       event_type, value
         |FROM events
         |WHERE (${hashSql("CAST(event_id AS VARCHAR)")}) % 100 <
         |  CASE event_type WHEN 'view' THEN 10 WHEN 'click' THEN 50
         |                  WHEN 'purchase' THEN 100 ELSE 25 END""".stripMargin
    },

    // ---- deterministic per-group cap: ≤3 events per user, survivors
    // chosen by smallest id-hash (uniform priority sample, stable
    // across runs/engines; one hash agg, no window sort) ----
    query("q48_per_group_cap")((s, dir) =>
      graft.operators.Sampling.perGroupCap(
          events(s, dir), groupCols = Seq("user_id"),
          idCol = col("event_id"), k = 3)
        .withColumnRenamed("id", "event_id")) {
      s"""SELECT user_id, event_id, rank FROM (
         |  SELECT user_id, event_id,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY (${hashSql("CAST(event_id AS VARCHAR)")}) ASC,
         |               event_id ASC) AS rank
         |  FROM events) WHERE rank <= 3""".stripMargin
    },

    // ---- bloom-pruned semi-join: lineitems of high-value orders; the
    // bloom prunes the fact side before the exchange, the semi join
    // removes false positives — exactly LEFT SEMI, cheaper shuffle ----
    query("q49_bloom_semi_join")((s, dir) => {
      val hi = t(s, dir, "orders").filter(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey"))
      graft.operators.BloomJoin.bloomSemiJoin(
          t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"),
            col("l_quantity")),
          hi, col("l_orderkey"), col("o_orderkey"),
          expectedItems = 100000L)
    }) {
      """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_orderkey = l_orderkey
        |                AND o_totalprice > 400000.0)""".stripMargin
    },

    // ---- exact interpolated percentiles per group (Spark `percentile`
    // and DuckDB `quantile_cont` share the (n−1)·p linear-interpolation
    // definition, so the values are cross-engine exact) ----
    query("q53_percentiles")((s, dir) =>
      events(s, dir).groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("p50"),
          percentile(col("value"), lit(0.95)).as("p95"),
          count(lit(1)).as("n"))) {
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95,
        |  count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin
    },

    // ---- winsorized clipping: per-key percentile capping (zscore's
    // companion outlier treatment; exact interpolated bounds) ----
    query("q82_winsorize")((s, dir) =>
      graft.operators.Normalize.winsorize(
          events(s, dir).select(col("event_id"), col("event_type"), col("value")),
          keys = Seq("event_type"), valueCol = col("value"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("v_clipped"))) {
      // q82: quantile_cont shares Spark percentile's (n−1)·p
      // interpolation (the q53 precedent); NULL handling is an explicit
      // CASE in both engines (greatest/least NULL semantics differ).
      """WITH b AS (SELECT event_type,
        |    quantile_cont(value, 0.05) AS lo,
        |    quantile_cont(value, 0.95) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_id, e.event_type, e.value,
        |  CASE WHEN e.value IS NULL THEN NULL
        |       ELSE least(greatest(e.value, b.lo), b.hi) END AS v_clipped
        |FROM events e JOIN b USING (event_type)""".stripMargin
    },

    // ---- top-k per group via the bounded-heap aggregate — same result
    // set as q12's window form, but O(k) state per group and map-side
    // partial aggregation instead of a full per-group sort ----
    query("q45_topk_heap")((s, dir) => {
      import graft.functions.TopKBy.top_k_by
      t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(top_k_by(col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
        .select(col("o_custkey"), posexplode(col("tk")).as(Seq("pos", "p")))
        .select(col("o_custkey"), col("p.id").as("o_orderkey"),
          col("p.v").as("o_totalprice"),
          (col("pos") + 1).cast("int").as("rank"))
    }) {
      // q45: the bounded-heap aggregate must reproduce the window form
      // exactly — one oracle (q12's) serves both physical plans.
      TopKOrdersOracle
    },

    // ---- COUNT-MIN heavy hitters: d=4×w=64 sketch as a relational
    // plan (map-side-combining to d·w counters), estimates = min over
    // rows via a broadcast probe; exact count rides along to expose
    // the over-estimate. Threshold = 1% of the stream (driver scalar,
    // bounded plan parameter) ----
    query("q57_heavy_hitters")((s, dir) => {
      val ev = events(s, dir)
      val thr = ev.count() / 100
      graft.operators.Sketches.cmsHeavyHitters(
        ev, col("user_id"), depth = 4, width = 64, minCount = thr)
    }) {
      // q57: the sketch construction (seeded portable hash mod width,
      // min over depth rows) is mirrored exactly — including the
      // over-estimates colliding buckets produce — AND the bounded
      // candidate stream (per hash-bucket top lists by count desc, key
      // asc; 64 buckets × 128) is mirrored by the cand window, so the
      // bounding itself is oracle-checked.
      s"""WITH rs AS (SELECT unnest(range(0, 4)) AS r),
         |ev AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
         |sk AS (SELECT rs.r AS r,
         |         ${hashSql("(CAST(rs.r AS VARCHAR) || ':' || ev.k)")} % 64 AS b,
         |         count(*) AS c
         |       FROM ev CROSS JOIN rs GROUP BY 1, 2),
         |keys0 AS (SELECT k, count(*) AS exact_count FROM ev GROUP BY 1),
         |keys AS (SELECT k, exact_count FROM (
         |    SELECT k, exact_count,
         |      row_number() OVER (PARTITION BY (${hashSql("k")} % 64)
         |        ORDER BY exact_count DESC, k ASC) AS rn
         |    FROM keys0) WHERE rn <= 128),
         |pr AS (SELECT keys.k AS k, keys.exact_count AS exact_count, rs.r AS r,
         |         ${hashSql("(CAST(rs.r AS VARCHAR) || ':' || keys.k)")} % 64 AS b
         |       FROM keys CROSS JOIN rs),
         |est AS (SELECT pr.k AS k, pr.exact_count AS exact_count,
         |         min(sk.c) AS est_count
         |       FROM pr JOIN sk ON sk.r = pr.r AND sk.b = pr.b GROUP BY 1, 2)
         |SELECT k AS key, est_count, exact_count FROM est
         |WHERE est_count >= (SELECT count(*) // 100 FROM events)""".stripMargin
    },

    // ---- FUNNEL: first-touch view → click → purchase per user, each
    // stage strictly after the previous; aggregate ⋈ aggregate on the
    // user key, no raw-stream window ----
    query("q59_funnel")((s, dir) =>
      graft.operators.EventAnalytics.funnel(
        events(s, dir), Seq("view", "click", "purchase"))) {
      """WITH v AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t1
        |           FROM events WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id AS user_id, min(CAST(e.ts AS TIMESTAMP)) AS t2
        |      FROM events e JOIN v ON e.user_id = v.user_id
        |      WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > v.t1
        |      GROUP BY 1),
        |p AS (SELECT e.user_id AS user_id, min(CAST(e.ts AS TIMESTAMP)) AS t3
        |      FROM events e JOIN c ON e.user_id = c.user_id
        |      WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > c.t2
        |      GROUP BY 1)
        |SELECT v.user_id AS user_id, v.t1 AS t1, c.t2 AS t2, p.t3 AS t3,
        |  1 + CAST(c.t2 IS NOT NULL AS INT) + CAST(p.t3 IS NOT NULL AS INT) AS stage
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin
    },

    // ---- CUBE over (event_type, day): all four grouping sets in one
    // pass (partial-aggregated expand), decimal-exact value sums ----
    query("q60_cube")((s, dir) =>
      events(s, dir)
        .cube(col("event_type"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))) {
      """SELECT event_type, day, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events)
        |GROUP BY CUBE (event_type, day)""".stripMargin
    },

    // ---- HLL distinct sketch (64 registers, element-wise-max merge —
    // order-independent, so even the ESTIMATE is oracle-checked;
    // count_distinct rides along to expose the approximation error) ----
    query("q64_hll_distinct")((s, dir) => {
      import graft.functions.HllDistinct.hll_distinct
      import graft.functions.PortableHash.portable_hash
      // distinct FIRST, then sketch + count over the distinct set:
      // mixing countDistinct with the HLL in one agg makes Spark group
      // by (month, l_orderkey) in phase 1 — allocating and SHUFFLING an
      // HLL buffer per orderkey group (600k buffers at sf0.1, 2.3 s).
      // HLL registers are max-based, so duplicates never move them:
      // sketching the distinct set yields the identical estimate, and
      // count over the distinct rows IS countDistinct. The big exchange
      // now carries bare (month, key) rows; the 64-register buffers
      // exist only for the |months| final groups.
      t(s, dir, "lineitem")
        .select(date_trunc("month", col("l_shipdate")).cast("date").as("month"),
          col("l_orderkey"))
        .distinct()
        .select(col("month"), col("l_orderkey"),
          portable_hash(col("l_orderkey").cast("string")).as("h"))
        .groupBy(col("month"))
        .agg(hll_distinct(col("h")).as("orders_est"),
          count(col("l_orderkey")).as("orders_exact"))
    }) {
      // q64: register rank uses bin()-string bit length — integer-exact,
      // no floating log2; Σ2^(−reg) is a sum of exact powers of two
      // (order-independent in double), so the estimate mirrors exactly.
      s"""WITH h0 AS (
         |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
         |         l_orderkey,
         |         ${hashSql("CAST(l_orderkey AS VARCHAR)")} AS ph
         |  FROM lineitem),
         |h AS (SELECT month, l_orderkey,
         |        (1566083941 * (ph + 1)) % 1000000007 AS g1,
         |        (1103515245 * (ph + 7)) % 1000000007 AS g2
         |      FROM h0),
         |r AS (SELECT month, g1 % 64 AS b,
         |        max(25 - length(ltrim(bin(g2 % 16777216), '0'))) AS reg
         |      FROM h GROUP BY month, b),
         |a AS (SELECT month,
         |        sum(power(2.0, -reg)) + (64 - count(*)) AS s,
         |        64 - count(*) AS zeros
         |      FROM r GROUP BY month),
         |x AS (SELECT month, count(DISTINCT l_orderkey) AS exact_d
         |      FROM h GROUP BY month),
         |e AS (SELECT a.month AS month,
         |        0.709 * 4096.0 / a.s AS raw, a.zeros AS zeros
         |      FROM a)
         |SELECT e.month AS month,
         |  floor((CASE WHEN raw <= 160.0 AND zeros > 0
         |              THEN 64.0 * ln(64.0 / zeros) ELSE raw END) * 10000 + 0.5)
         |    / 10000 AS orders_est,
         |  x.exact_d AS orders_exact
         |FROM e JOIN x ON e.month = x.month""".stripMargin
    },

    // ---- histogram-sketch quantiles: mergeable fixed-bin counts +
    // in-bin interpolation (the order-independent alternative to
    // t-digest — exactly oracle-reproducible); q53 is the exact
    // spot-check of the same probabilities ----
    query("q65_histogram_quantiles")((s, dir) =>
      graft.operators.Quantiles.histogramQuantiles(
        events(s, dir), col("event_type"), col("value"),
        bins = 64, ps = Seq(0.5, 0.95))) {
      // q65: bin ids, cumulative counts and in-bin interpolation mirror
      // the Spark expressions term for term (t = p·n computed once,
      // width = (hi−lo)/64, est = lo + (bin + (t−cum_prev)/cnt)·width).
      val est = graft.functions.TextFunctions.round6Sql(
        "lo + (CAST(bin AS DOUBLE) + (p * CAST(n AS DOUBLE) - " +
          "CAST(cum_prev AS DOUBLE)) / CAST(cnt AS DOUBLE)) * ((hi - lo) / 64)")
      s"""WITH base AS (SELECT event_type AS key, CAST(value AS DOUBLE) AS v
         |              FROM events WHERE value IS NOT NULL),
         |stats AS (SELECT key, min(v) AS lo, max(v) AS hi, count(*) AS n
         |          FROM base GROUP BY 1),
         |binned AS (SELECT b.key AS key,
         |    CAST(CASE WHEN s.hi = s.lo THEN 0
         |         ELSE least(floor((b.v - s.lo) / (s.hi - s.lo) * 64), 63)
         |         END AS BIGINT) AS bin,
         |    count(*) AS cnt
         |  FROM base b JOIN stats s ON b.key = s.key GROUP BY 1, 2),
         |cum AS (SELECT binned.key AS key, bin, cnt, s.lo, s.hi, s.n,
         |    sum(cnt) OVER (PARTITION BY binned.key ORDER BY bin
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
         |  FROM binned JOIN stats s ON binned.key = s.key),
         |pr AS (SELECT key, bin, cnt, lo, hi, n, cum, cum - cnt AS cum_prev,
         |    unnest([0.5, 0.95]) AS p FROM cum)
         |SELECT key, p, $est AS est, n
         |FROM pr
         |WHERE CAST(cum AS DOUBLE) >= p * CAST(n AS DOUBLE)
         |  AND CAST(cum_prev AS DOUBLE) < p * CAST(n AS DOUBLE)""".stripMargin
    },

    // ---- OHLC bars per (event_type, day): first/last via dual
    // row_number (tie-deterministic), high/low order-free ----
    query("q66_ohlc_bars")((s, dir) =>
      graft.operators.EventAnalytics.ohlcBars(events(s, dir))) {
      """WITH base AS (SELECT event_type AS series, CAST(ts AS DATE) AS day,
        |    CAST(ts AS TIMESTAMP) AS ts2, event_id AS id, value AS v
        |  FROM events),
        |w AS (SELECT series, day, v,
        |    row_number() OVER (PARTITION BY series, day
        |      ORDER BY ts2 ASC, id ASC) AS rn1,
        |    row_number() OVER (PARTITION BY series, day
        |      ORDER BY ts2 DESC, id DESC) AS rn2
        |  FROM base)
        |SELECT series, day,
        |  max(CASE WHEN rn1 = 1 THEN v END) AS open,
        |  max(v) AS high, min(v) AS low,
        |  max(CASE WHEN rn2 = 1 THEN v END) AS close,
        |  count(*) AS n
        |FROM w GROUP BY 1, 2""".stripMargin
    },

    // ---- salted two-stage aggregation parity: the hot-key guard must
    // be result-neutral — DECIMAL partials make the merge exact, so
    // the plain GROUP BY is its oracle ----
    query("q67_salted_agg")((s, dir) =>
      graft.operators.Skew.saltedAggregate(
        t(s, dir, "lineitem").select(col("l_returnflag"), col("l_quantity")),
        keys = Seq("l_returnflag"), buckets = 16,
        partial = Seq(sum(col("l_quantity").cast("decimal(18,2)")).as("s"),
          count(lit(1)).as("c")),
        merge = Seq(sum(col("s")).cast("double").as("sum_qty"),
          sum(col("c")).as("n")))) {
      // q67: the salted two-stage plan must be RESULT-NEUTRAL — its
      // oracle is the plain one-stage GROUP BY (decimal partials make
      // the merge order-independent).
      """SELECT l_returnflag,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem GROUP BY 1""".stripMargin
    },

    // ---- containment (point-in-interval) lookup join: events matched
    // into OVERLAPPING value bands via the binned equi-join — the
    // IP-range/SCD-2 lookup shape; never a nested-loop plan ----
    query("q72_interval_lookup")((s, dir) => {
      val bands = t(s, dir, "nation").select(col("n_name"),
        (col("n_nationkey") * 20.0).as("lo"),
        (col("n_nationkey") * 20.0 + 30.0).as("hi"))
      graft.operators.RangeJoin.containmentJoin(
          events(s, dir).select(col("event_id"), col("value")),
          bands, "value", "lo", "hi", binWidth = 20.0)
        .groupBy(col("i_n_name").as("band"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_value"))
    }) {
      // q72: the binned containment join must equal the naive inequality
      // join — DuckDB runs the naive form directly (exact DECIMAL sums
      // make the aggregate order-free).
      """WITH bands AS (SELECT n_name,
        |    n_nationkey * 20.0 AS lo, n_nationkey * 20.0 + 30.0 AS hi
        |  FROM nation)
        |SELECT b.n_name AS band, count(*) AS n,
        |  CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
        |FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        |GROUP BY 1""".stripMargin
    },

    // ---- one-pass table profile (corpus-QA): per-column nulls, KMV
    // distinct estimates, native min/max — one aggregate job ----
    query("q79_profile")((s, dir) =>
      graft.operators.Profile.profile(
        events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("value")))) {
      // q79: each column's profile block mirrors the Spark aggregates —
      // non-null counts, the q38 KMV estimate formula over the same
      // portable hashes, native-type min/max rendered to VARCHAR.
      def block(c: String): String = {
        val g = s"(1566083941 * ((${hashSql(s"CAST($c AS VARCHAR)")}) + 1)) % 1000000007"
        s"""SELECT '$c' AS "column", t.n_rows AS n_rows,
           |  t.n_rows - s.cnt AS n_nulls,
           |  CASE WHEN len(s.hs) < 64 THEN CAST(len(s.hs) AS DOUBLE)
           |       ELSE floor((63.0 * 1000000007.0 / s.hs[64] - 1.0) * 10000 + 0.5) / 10000
           |  END AS ndv_est,
           |  s.mn AS min_val, s.mx AS max_val
           |FROM (SELECT list_sort(list_distinct(list($g)
           |          FILTER (WHERE $c IS NOT NULL))) AS hs,
           |        count($c) AS cnt,
           |        CAST(min($c) AS VARCHAR) AS mn,
           |        CAST(max($c) AS VARCHAR) AS mx
           |      FROM events) s CROSS JOIN t""".stripMargin
      }
      s"""WITH t AS (SELECT count(*) AS n_rows FROM events)
         |${Seq("event_id", "user_id", "event_type", "value")
             .map(block).mkString("\nUNION ALL\n")}""".stripMargin
    },

    // ---- weighted sampling w/o replacement (A-ES, hash uniforms):
    // 500 events, probability ∝ value; bounded-heap selection ----
    query("q78_weighted_sample")((s, dir) =>
      graft.operators.Sampling.weightedSample(
        events(s, dir), col("event_id"), col("value"), k = 500)) {
      // q78: hash-uniform priorities mirror term-for-term (same +1 /
      // (Mod+1) uniform, same ln(u)/w, same round6 before ranking).
      val p = graft.functions.TextFunctions.round6Sql(
        s"ln(CAST(${hashSql("CAST(event_id AS VARCHAR)")} + 1 AS DOUBLE)" +
          " / 1000000008.0) / value")
      s"""WITH b AS (SELECT event_id, $p AS p
         |  FROM events WHERE CAST(value AS DOUBLE) > 0)
         |SELECT id, priority, rank FROM (
         |  SELECT event_id AS id, p AS priority,
         |    row_number() OVER (ORDER BY p DESC, event_id ASC) AS rank
         |  FROM b) WHERE rank <= 500""".stripMargin
    },

    // ---- robust scaling: (v − median)/IQR per key — the outlier-
    // immune normalization (exact interpolated percentiles) ----
    query("q90_robust_scale")((s, dir) =>
      graft.operators.Normalize.robustScale(
          events(s, dir).select(col("event_id"), col("event_type"),
            col("value")),
          keys = Seq("event_type"), valueCol = col("value"))
        .select(col("event_id"), col("event_type"), col("value"),
          col("v_scaled"))) {
      // q90: quantile_cont ≡ Spark percentile (q53/q82 precedent);
      // zero-IQR keys scale to NULL, not ±Inf.
      val sc = graft.functions.TextFunctions.round6Sql(
        "(e.value - b.med) / b.iqr")
      s"""WITH b AS (SELECT event_type,
         |    quantile_cont(value, 0.5) AS med,
         |    quantile_cont(value, 0.75) - quantile_cont(value, 0.25) AS iqr
         |  FROM events GROUP BY event_type)
         |SELECT e.event_id, e.event_type, e.value,
         |  CASE WHEN e.value IS NULL OR b.iqr = 0 THEN NULL
         |       ELSE $sc END AS v_scaled
         |FROM events e JOIN b USING (event_type)""".stripMargin
    },

    // ---- per-group weighted sampling: k best-weighted events from
    // EACH event type (A-ES priorities, bounded heap per group) ----
    query("q88_weighted_sample_per_group")((s, dir) =>
      graft.operators.Sampling.weightedSamplePerGroup(
        events(s, dir), Seq("event_type"), col("event_id"),
        col("value"), k = 100)) {
      // q88: the q78 priority formula, ranked per event_type.
      val p = graft.functions.TextFunctions.round6Sql(
        s"ln(CAST(${hashSql("CAST(event_id AS VARCHAR)")} + 1 AS DOUBLE)" +
          " / 1000000008.0) / value")
      s"""WITH b AS (SELECT event_type, event_id, $p AS p
         |  FROM events WHERE CAST(value AS DOUBLE) > 0)
         |SELECT event_type, id, priority, rank FROM (
         |  SELECT event_type, event_id AS id, p AS priority,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY p DESC, event_id ASC) AS rank
         |  FROM b) WHERE rank <= 100""".stripMargin
    },

    // ---- grouped z-score with EXACT decimal moments: normalization
    // whose μ/σ are identical under any partitioning ----
    query("q76_zscore")((s, dir) =>
      graft.operators.Normalize.zscore(
          events(s, dir).select(col("event_id"), col("event_type"), col("value")),
          keys = Seq("event_type"), valueCol = col("value"))
        .select(col("event_id"), col("event_type"), col("value"), col("z"))) {
      // q76: μ/σ from EXACT decimal sums, derived in the same double
      // expression order as the operator (μ = s1/n; σ² = s2/n − μ·μ).
      val z = graft.functions.TextFunctions.round6Sql(
        "(value - s1/n) / sqrt(s2/n - (s1/n)*(s1/n))")
      s"""WITH st AS (SELECT event_type,
         |    CAST(sum(CAST(value AS DECIMAL(28,6))) AS DOUBLE) AS s1,
         |    CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) *
         |      CAST(value AS DECIMAL(18,6)) AS DECIMAL(38,12))) AS DOUBLE) AS s2,
         |    CAST(count(value) AS DOUBLE) AS n
         |  FROM events GROUP BY 1)
         |SELECT e.event_id, e.event_type, e.value,
         |  CASE WHEN s2/n - (s1/n)*(s1/n) > 0 THEN $z ELSE NULL END AS z
         |FROM events e JOIN st USING (event_type)""".stripMargin
    }
  )
}
