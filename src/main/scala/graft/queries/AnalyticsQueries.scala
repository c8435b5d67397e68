package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators.{AsofJoin, BloomPrune, RangeJoin, SkewSalt}

/** Round-5 analytics extensions: the temporal/sketch/grouping-set operator
  * families a warehouse-grade engine needs beyond the reference's literal
  * surface, each DuckDB-oracled.
  *
  *  - J6 as-of join — the reference's "latest prior AP-state for this
  *    request" lookup (`wifi-positioning-service` repository get per
  *    request) as a set-oriented batch operator; DuckDB's native ASOF JOIN
  *    is the oracle.
  *  - O9 sessionization — `session_window` in BATCH mode, the exact operator
  *    `StreamOps.sessionizedDeviceActivity` runs on the stream, oracled via
  *    the gaps-and-islands SQL encoding.
  *  - A14 percentile bands — exact interpolated percentiles
  *    (`percentile(..., array(...))`, one pass, partial-aggregatable) vs
  *    DuckDB `quantile_cont`.
  *  - A15 CUBE — full grouping-set lattice (A12 ROLLUP / A13 PIVOT complete
  *    the family), `grouping()` disambiguating rolled-up levels from data
  *    nulls.
  *  - O10 HLL sketch — `approx_count_distinct` (HyperLogLog++, mergeable,
  *    one shuffle of fixed-size sketches instead of a distinct-key shuffle:
  *    THE count-distinct shape at 100 TB) under a bounded-property oracle:
  *    the sketch must land within 5% of the exact count, which DuckDB
  *    states as a constant-true gate next to the exact count it verifies.
  */
object AnalyticsQueries {

  /** J6 — as-of join: each purchase event matched to the user's most recent
    * prior (inclusive) view event. One Exchange on user_id, no pair
    * expansion (see AsofJoin scaladoc). Millisecond epochs are emitted
    * instead of raw timestamps (Spark truncates parquet ns to µs, DuckDB
    * keeps ns; ms floors compose identically from either).
    *
    * Duplicate-right-timestamp discipline: Spark's operator resolves equal
    * (user_id, ts) view rows to the greatest payload struct — i.e. the max
    * event_id row. DuckDB's ASOF JOIN tie-break among duplicate right
    * timestamps is UNSPECIFIED, so the oracle restates Spark's rule as an
    * explicit pre-dedup (one row per (user_id, ts), max event_id): DuckDB
    * then never exercises its tie-break, the winner is identical by
    * construction, and the Spark side keeps its single-shuffle plan (a
    * Spark-side pre-dedup would burn a second Exchange on (user_id, ts)
    * to re-state what the union window already resolves). */
  val j6AsofJoin: Reg = Reg.sql(
    "j6_asof_join",
    """SELECT p.event_id, p.user_id, p.value AS purchase_value,
      |       v.event_id AS view_event_id, v.value AS view_value,
      |       epoch_ms(p.ts) - epoch_ms(v.ts) AS ms_since_view
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (
      |  SELECT user_id, ts, event_id, value FROM (
      |    SELECT user_id, ts, event_id, value,
      |           ROW_NUMBER() OVER (PARTITION BY user_id, ts
      |                              ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = 'view') WHERE rn = 1) v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val views = ev.where(col("event_type") === "view")
      .select("event_id", "user_id", "ts", "value")
    AsofJoin.joinAsof(
      purchases, views,
      on = Seq("user_id"), leftTime = "ts", rightTime = "ts",
      rightCols = Seq("event_id", "value"), rightPrefix = "view_")
      .select(
        col("event_id"), col("user_id"),
        col("value").as("purchase_value"),
        col("view_event_id"),
        col("view_value"),
        (unix_millis(col("ts")) - unix_millis(col("view_ts"))).as("ms_since_view"))
      .orderBy("event_id")
  }

  /** O9 — batch sessionization with the streaming operator: sessions close
    * after 6 h of per-user silence (median inter-event gap in the testdata
    * is ~7.3 h, so the gap genuinely splits). Spark opens a new session when
    * `t - last >= gap` (an event joins only while `t < last + gap`); the
    * oracle's gaps-and-islands break uses the same `>=`. */
  val o9Sessionize: Reg = Reg.sql(
    "o9_sessionize",
    """WITH x AS (
      |  SELECT user_id, ts, value,
      |         CASE WHEN LAG(ts) OVER w IS NULL
      |              OR ts - LAG(ts) OVER w >= INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |y AS (
      |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                           ROWS UNBOUNDED PRECEDING) AS sess
      |  FROM x)
      |SELECT user_id,
      |       epoch_ms(MIN(ts)) AS session_start_ms,
      |       epoch_ms(MAX(ts)) + 21600000 AS session_end_ms,
      |       COUNT(*) AS n_events,
      |       FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |             / COUNT(*) * 10000) / 10000 AS mean_value
      |FROM y GROUP BY user_id, sess
      |ORDER BY user_id, session_start_ms""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .groupBy(session_window(col("ts"), "6 hours"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        // Session mean, boundary-proof across engines: the DECIMAL sum is
        // exact (order-independent), the single IEEE division is then
        // bit-identical in Spark and DuckDB, and FLOOR (unlike ROUND) has
        // no half-grid tie for shortest-repr printing to flip — a plain
        // ROUND(AVG(value),4) flaked by one ulp at sf0.1.
        (floor(sum(col("value").cast("decimal(18,2)")).cast("double")
          / count(lit(1)) * 1e4) / 1e4).as("mean_value"))
      .select(
        col("user_id"),
        unix_millis(col("session_window.start")).as("session_start_ms"),
        unix_millis(col("session_window.end")).as("session_end_ms"),
        col("n_events"), col("mean_value"))
      .orderBy("user_id", "session_start_ms")
  }

  /** A14 — grouped exact percentile bands. `percentile` is the exact
    * interpolated form (position (n−1)·p, linear between ranks — the same
    * definition as DuckDB `quantile_cont`), computed in ONE pass over the
    * group as a partial-aggregatable sketch of value counts. Both engines
    * interpolate the SAME doubles; the output truncates (FLOOR) to cents
    * instead of rounding — an even-n median of cent-grid prices lands
    * exactly on the half-cent, where ROUND's engine-specific tie handling
    * flips a cent (the o9 lesson, see Reg's float discipline).
    * Both engines use the two-sided `(1−f)·lo + f·hi` interpolation —
    * verified bit-for-bit on every lineitem group at sf0.01 AND sf0.1 and
    * pinned by PercentileParitySpec on ulp-adversarial cases, so the FLOOR
    * grid has no residual half-grid exposure. */
  val a14PercentileBands: Reg = Reg.sql(
    "a14_percentile_bands",
    """SELECT l_returnflag,
      |       FLOOR(quantile_cont(l_extendedprice, 0.25) * 100) / 100 AS p25,
      |       FLOOR(quantile_cont(l_extendedprice, 0.50) * 100) / 100 AS p50,
      |       FLOOR(quantile_cont(l_extendedprice, 0.75) * 100) / 100 AS p75,
      |       FLOOR(quantile_cont(l_extendedprice, 0.90) * 100) / 100 AS p90,
      |       FLOOR(quantile_cont(l_extendedprice, 0.99) * 100) / 100 AS p99,
      |       COUNT(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    def cents(c: org.apache.spark.sql.Column) = floor(c * 100) / 100
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D))").as("__p"),
        count(lit(1)).as("cnt"))
      .select(
        col("l_returnflag"),
        cents(element_at(col("__p"), 1)).as("p25"),
        cents(element_at(col("__p"), 2)).as("p50"),
        cents(element_at(col("__p"), 3)).as("p75"),
        cents(element_at(col("__p"), 4)).as("p90"),
        cents(element_at(col("__p"), 5)).as("p99"),
        col("cnt"))
      .orderBy("l_returnflag")
  }

  /** A15 — CUBE over (returnflag, linestatus): all four grouping sets in one
    * pass (Spark expands the lattice map-side; still one shuffle).
    * `grouping()` tags rolled-up levels — never trust null-vs-'ALL'
    * coalescing, which conflates data nulls with subtotals. */
  val a15Cube: Reg = Reg.sql(
    "a15_cube",
    """SELECT CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL' ELSE l_returnflag END AS return_flag,
      |       CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL' ELSE l_linestatus END AS line_status,
      |       COUNT(*) AS cnt,
      |       CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY return_flag, line_status""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .cube("l_returnflag", "l_linestatus")
      .agg(
        grouping(col("l_returnflag")).as("__g1"),
        grouping(col("l_linestatus")).as("__g2"),
        count(lit(1)).as("cnt"),
        sum("l_quantity").cast("double").as("sum_qty"))
      .select(
        when(col("__g1") === 1, lit("ALL")).otherwise(col("l_returnflag")).as("return_flag"),
        when(col("__g2") === 1, lit("ALL")).otherwise(col("l_linestatus")).as("line_status"),
        col("cnt"), col("sum_qty"))
      .orderBy("return_flag", "line_status")
  }

  /** O10 — HyperLogLog++ count-distinct sketch under a bounded-property
    * oracle. At 100 TB `COUNT(DISTINCT key)` shuffles every distinct key;
    * the sketch shuffles a fixed ~kB register set per group and merges —
    * this query pins that the rsd=2% sketch stays within 5% of truth (the
    * exact count rides along for the hash gate; both engines compute it). */
  val o10ApproxDistinct: Reg = Reg.sql(
    "o10_approx_distinct",
    """SELECT l_returnflag,
      |       COUNT(DISTINCT l_partkey) AS exact_parts,
      |       TRUE AS hll_within_5pct
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        approx_count_distinct(col("l_partkey"), 0.02).as("__approx"))
      .select(
        col("l_returnflag"), col("exact_parts"),
        (abs(col("__approx").cast("double") / col("exact_parts") - 1.0) <= 0.05)
          .as("hll_within_5pct"))
      .orderBy("l_returnflag")
  }

  /** J7 — range (band) join: every customer balance matched to each
    * nation's supplier-balance envelope [min, max]. Spark would plan the raw
    * BETWEEN join as a BroadcastNestedLoopJoin; `RangeJoin.bucketed` turns
    * it into an equi-join on a domain bucket + residual filter (see its
    * scaladoc). Band bounds are exact data values (min/max of parquet
    * doubles), so membership cannot straddle an engine-specific ulp. */
  val j7BandJoin: Reg = Reg.sql(
    "j7_band_join",
    """WITH bands AS (
      |  SELECT n_name, MIN(s_acctbal) AS lo, MAX(s_acctbal) AS hi
      |  FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |  GROUP BY n_name)
      |SELECT b.n_name, COUNT(*) AS n_customers,
      |       ROUND(CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_bal
      |FROM bands b JOIN customer c ON c.c_acctbal BETWEEN b.lo AND b.hi
      |GROUP BY b.n_name ORDER BY b.n_name""".stripMargin) { (s, dir) =>
    val bands = Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(min("s_acctbal").as("lo"), max("s_acctbal").as("hi"))
    RangeJoin.bucketed(
      Tables.customer(s, dir).select("c_custkey", "c_acctbal"),
      "c_acctbal", bands, "lo", "hi", bucketWidth = 500.0)
      .groupBy("n_name")
      .agg(
        count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2).as("sum_bal"))
      .orderBy("n_name")
  }

  /** O11 — Count-Min sketch heavy hitters under the sketch's own guarantee.
    * At 100 TB, exact per-key counts of a hot column shuffle every key; the
    * CMS is a fixed-size 2-D counter array that partial-aggregates
    * map-side and merges associatively — constant shuffle bytes per
    * partition. The oracle is bounded-property: CMS never undercounts
    * (est ≥ exact, structural) and overshoots by at most ε·N with the
    * pinned seed (deterministic on fixed data — verified at sf0.01 and
    * sf0.1). Exact top-10 counts ride along for the hash gate. */
  val o11HeavyHitters: Reg = Reg.sql(
    "o11_heavy_hitters",
    """SELECT l_suppkey, COUNT(*) AS exact_cnt, TRUE AS cms_within_eps
      |FROM lineitem GROUP BY l_suppkey
      |ORDER BY exact_cnt DESC, l_suppkey LIMIT 10""".stripMargin) { (s, dir) =>
    val keys = Tables.lineitem(s, dir).select("l_suppkey")
    val sketch = keys.agg(
      count_min_sketch(col("l_suppkey"), lit(0.001d), lit(0.99d), lit(42)).as("__cms"),
      count(lit(1)).as("__n"))
    val estimate = udf { (bytes: Array[Byte], key: Long) =>
      org.apache.spark.util.sketch.CountMinSketch
        .readFrom(new java.io.ByteArrayInputStream(bytes))
        .estimateCount(key)
    }
    keys.groupBy("l_suppkey").agg(count(lit(1)).as("exact_cnt"))
      .orderBy(desc("exact_cnt"), col("l_suppkey")).limit(10)
      .crossJoin(sketch) // 1-row sketch frame: broadcast by construction
      .withColumn("__est", estimate(col("__cms"), col("l_suppkey")))
      .select(
        col("l_suppkey"), col("exact_cnt"),
        (col("__est") >= col("exact_cnt") &&
          col("__est") <= col("exact_cnt") + ceil(col("__n") * 0.001d))
          .as("cms_within_eps"))
      .orderBy(desc("exact_cnt"), col("l_suppkey"))
  }

  /** J8 — salted skewed join: lineitem⋈supplier through `SkewSalt`
    * (deterministic salt on the probe side, `salts`× replication of the
    * build side) — row-identical to the plain equi-join, which is exactly
    * what the oracle states. The scenario: a dimension too big for the
    * broadcast budget (so the join must shuffle) meeting a fact with hot
    * keys — salting spreads each hot key over `salts` tasks at the price
    * of replicating only the BOUNDED side, never the fact. The technique
    * AQE's skew split can't deliver once a single key exceeds task memory. */
  val j8SaltedJoin: Reg = Reg.sql(
    "j8_salted_join",
    """SELECT s.s_nationkey, COUNT(*) AS cnt,
      |       CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
      |FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |GROUP BY s.s_nationkey ORDER BY s.s_nationkey""".stripMargin) { (s, dir) =>
    val fact = Tables.lineitem(s, dir).select("l_suppkey", "l_quantity")
    val supp = Tables.supplier(s, dir)
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey"))
    SkewSalt.saltedJoin(fact, supp, Seq("l_suppkey"), salts = 8)
      .groupBy("s_nationkey")
      .agg(
        count(lit(1)).as("cnt"),
        sum("l_quantity").cast("double").as("sum_qty"))
      .orderBy("s_nationkey")
  }

  /** O12 — sliding time-range window: per-user trailing-hour sum/count at
    * every event (RANGE frame over time, vs O7's ROWS running total). Both
    * engines order and frame over the SAME floored epoch-ms longs — framing
    * over raw timestamps would let Spark's µs vs DuckDB's ns resolution
    * flip boundary membership. The windowed sum goes through DECIMAL
    * (exact, order-independent within the frame). */
  val o12TimeRangeWindow: Reg = Reg.sql(
    "o12_time_range_window",
    """SELECT event_id, user_id,
      |       CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS hour_sum,
      |       COUNT(*) OVER w AS hour_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |             RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy("user_id").orderBy(col("__ms"))
      .rangeBetween(-3600000L, 0L)
    Tables.events(s, dir)
      .withColumn("__ms", unix_millis(col("ts")))
      .select(
        col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(18,2)")).over(w)
          .cast("double").as("hour_sum"),
        count(lit(1)).over(w).as("hour_n"))
      .orderBy("event_id")
  }

  /** O15 — per-key rolling median (the one window shape o7/o8/o12/o14
    * don't cover: an order STATISTIC over a sliding frame, not a running
    * sum/rank). The frame is the trailing 7 events and the median is
    * reported only once the frame is FULL: an odd-count median is a pure
    * order statistic — the middle element passes through bit-exact in both
    * engines, with no interpolation arithmetic at all. That design retires
    * the a14/a17 flake class by construction (even-count median interpolates
    * (a+b)/2, and the engines disagree on decimal median semantics — DuckDB
    * returns the lower-middle for DECIMAL input — and on the IEEE op order
    * for DOUBLE interpolation).
    *
    * 100 TB shape: one hash-partition shuffle on the key feeds both the
    * row_number and the frame; the per-row cost is O(frame)=O(7) inside the
    * window operator, no second shuffle before the output sort. */
  val o15RollingMedian: Reg = Reg.sql(
    "o15_rolling_median",
    """SELECT event_id, user_id, roll_median FROM (
      |  SELECT event_id, user_id,
      |         median(value) OVER w AS roll_median,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY epoch_ms(ts), event_id) AS rn
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
      |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
      |WHERE rn >= 7
      |ORDER BY event_id""".stripMargin) { (s, dir) =>
    // Order over the shared epoch-ms longs (never raw ns timestamps) with
    // the unique event_id tiebreak: frame membership is total-ordered, so
    // the order statistic is re-execution deterministic.
    val w = Window.partitionBy("user_id").orderBy(col("__ms"), col("event_id"))
      .rowsBetween(-6, 0)
    val wr = Window.partitionBy("user_id").orderBy(col("__ms"), col("event_id"))
    Tables.events(s, dir)
      .withColumn("__ms", unix_millis(col("ts")))
      .select(col("event_id"), col("user_id"),
        expr("percentile(value, 0.5)").over(w).as("roll_median"),
        row_number().over(wr).as("rn"))
      .where(col("rn") >= 7)
      .select("event_id", "user_id", "roll_median")
      .orderBy("event_id")
  }

  /** F3 — semi-structured shredding through Spark 4's VARIANT type: parse
    * the JSON ONCE into the binary variant encoding, then typed
    * `variant_get` extractions — the modern engine path for schemaless
    * columns (vs F2's per-path string re-parse with get_json_object, which
    * re-tokenizes the document for every path at 100 TB). */
  val f3VariantShred: Reg = Reg.sql(
    "f3_variant_shred",
    """SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 5 AS k_band,
      |       COUNT(*) AS cnt,
      |       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_value
      |FROM events GROUP BY k_band ORDER BY k_band""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(
        (expr("variant_get(parse_json(props), '$.k', 'bigint')") % 5).as("k_band"),
        col("value"))
      .groupBy("k_band")
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,2)")).cast("double"), 2).as("sum_value"))
      .orderBy("k_band")
  }

  /** O13 — UNPIVOT, the reshape inverse of A13's pivot: wide per-group
    * metrics melt into (group, metric, value) rows. Narrow op — one
    * Generate per row, no shuffle beyond the source aggregation. */
  val o13Unpivot: Reg = Reg.sql(
    "o13_unpivot",
    """WITH wide AS (
      |  SELECT l_returnflag,
      |         CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
      |         CAST(COUNT(*) AS DOUBLE) AS cnt,
      |         ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, metric, value FROM (
      |  SELECT l_returnflag, 'cnt' AS metric, cnt AS value FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_price', sum_price FROM wide
      |  UNION ALL
      |  SELECT l_returnflag, 'sum_qty', sum_qty FROM wide)
      |ORDER BY l_returnflag, metric""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        sum("l_quantity").cast("double").as("sum_qty"),
        count(lit(1)).cast("double").as("cnt"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_price"))
      .unpivot(
        Array(col("l_returnflag")),
        Array(col("cnt"), col("sum_price"), col("sum_qty")),
        "metric", "value")
      .orderBy("l_returnflag", "metric")
  }

  /** Q5 — the classic six-table star DAG (TPC-H Q5 shape): fact joins a
    * cascade of dimensions with a same-nation correlation between two of
    * them. Every dimension is an explicit broadcast — the fact table never
    * shuffles for any lookup; the only exchange is the final group-by.
    * This is the plan shape every "revenue by geography" question takes at
    * 100 TB, and the one that degrades worst if a dimension silently falls
    * back to SortMergeJoin. */
  val q5RegionVolume: Reg = Reg.sql(
    "q5_region_volume",
    """SELECT n.n_name,
      |       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
      |            AS DOUBLE) AS revenue,
      |       COUNT(*) AS cnt
      |FROM lineitem l
      |JOIN orders o   ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n   ON s.s_nationkey = n.n_nationkey
      |JOIN region r   ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name IN ('ASIA', 'EUROPE')
      |  AND c.c_nationkey = s.s_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin) { (s, dir) =>
    // Broadcast policy by how each table SCALES, not its size today:
    // orders is fact-sized — its join must shuffle on the key (a broadcast
    // hint would be the 100 TB driver-OOM). customer/supplier grow with SF
    // too, so they carry NO hint — AQE broadcasts them at bench scale and
    // falls back to shuffle when they outgrow the budget. Only the
    // genuinely fixed dimensions (25 nations, 5 regions) hint explicitly.
    Tables.lineitem(s, dir)
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .where(col("r_name").isin("ASIA", "EUROPE") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy("n_name")
      // all arithmetic in DECIMAL (prices/discounts are 2dp-exact), rounded
      // in DECIMAL, cast to double LAST: rounding a double scale-4 sum
      // flakes on half-grid ties between engines
      .agg(
        round(sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy("n_name")
  }

  /** Q9 — product-line profit (TPC-H Q9 shape, p_retailprice standing in
    * for the missing partsupp cost): a LIKE-filtered part dimension gates
    * the fact early (the filter broadcasts WITH the dimension, pruning
    * lineitem rows before any other join), then nation/orders slice the
    * profit by geography and year. */
  val q9ProductProfit: Reg = Reg.sql(
    "q9_product_profit",
    """SELECT n.n_name, CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
      |       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))
      |                      - CAST(p.p_retailprice AS DECIMAL(18,2))
      |                        * CAST(l.l_quantity AS DECIMAL(18,2)) * 0.1), 2)
      |            AS DOUBLE) AS profit
      |FROM lineitem l
      |JOIN part p     ON l.l_partkey = p.p_partkey
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n   ON s.s_nationkey = n.n_nationkey
      |JOIN orders o   ON l.l_orderkey = o.o_orderkey
      |WHERE p.p_name LIKE '%red%'
      |GROUP BY n.n_name, o_year
      |ORDER BY n.n_name, o_year""".stripMargin) { (s, dir) =>
    // part/supplier scale with SF: no hint, AQE decides (broadcast while
    // they fit, shuffle when they don't); fixed nation hints; fact-sized
    // orders always shuffles on the key.
    Tables.lineitem(s, dir)
      .join(Tables.part(s, dir).where(col("p_name").like("%red%")),
        col("l_partkey") === col("p_partkey"))
      .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(s, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("bigint").as("o_year"))
      .agg(
        round(sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1) - col("l_discount").cast("decimal(18,2)"))
          - col("p_retailprice").cast("decimal(18,2)")
            * col("l_quantity").cast("decimal(18,2)")
            * lit(new java.math.BigDecimal("0.1"))), 2)
          .cast("double").as("profit"))
      .orderBy("n_name", "o_year")
  }

  /** Q3 — shipping priority (TPC-H Q3 shape): selective filters on BOTH
    * fact sides BEFORE the key join (order date on orders, ship date on
    * lineitem — each must reach its parquet scan as a pushed filter) plus a
    * segment-filtered customer gate, then a revenue top-k. The scale story
    * this exercises that Q5/Q9 don't: join-order under double-sided fact
    * reduction — the optimizer must join the two PRE-FILTERED facts, never
    * filter after the join — and ORDER BY + LIMIT compiling to
    * TakeOrderedAndProject instead of a global sort. */
  val q3ShippingPriority: Reg = Reg.sql(
    "q3_shipping_priority",
    """SELECT l.l_orderkey,
      |       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
      |                      * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
      |            AS DOUBLE) AS revenue,
      |       CAST(o.o_orderdate AS DATE) AS order_date,
      |       o.o_orderpriority
      |FROM customer c
      |JOIN orders o   ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |WHERE c.c_mktsegment = 'BUILDING'
      |  AND o.o_orderdate < TIMESTAMP '1998-07-01'
      |  AND l.l_shipdate  > TIMESTAMP '1998-07-01'
      |GROUP BY l.l_orderkey, order_date, o.o_orderpriority
      |ORDER BY revenue DESC, l.l_orderkey
      |LIMIT 10""".stripMargin) { (s, dir) =>
    // Each filter sits directly on its own table so Catalyst pushes all
    // three to the scans; no broadcast hints — customer scales with SF
    // (AQE broadcasts it while it fits), and the fact-fact join shuffles
    // on the order key. The unique l_orderkey tiebreak makes the top-k
    // a total order.
    Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
      .join(Tables.orders(s, dir)
          .where(col("o_orderdate") < lit("1998-07-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(s, dir)
          .where(col("l_shipdate") > lit("1998-07-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"),
        col("o_orderdate").cast("date").as("order_date"), col("o_orderpriority"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
        .cast("double").as("revenue"))
      .select("l_orderkey", "revenue", "order_date", "o_orderpriority")
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** Q7 — volume shipping (TPC-H Q7 shape): the SAME dimension table plays
    * two roles (nation as supplier-nation n1 and customer-nation n2) under
    * an OR-symmetric pair filter — the self-aliased-dimension decision no
    * other star query exercises. Each alias is pre-filtered to the pair set
    * before its broadcast (2 rows ride to the executors, not 25) with the
    * OR kept as the residual predicate — semantically identical to the
    * classic formulation the oracle states, because the OR implies
    * membership in the pair set on both sides. */
  val q7VolumeShipping: Reg = Reg.sql(
    "q7_volume_shipping",
    """SELECT supp_nation, cust_nation, l_year,
      |       CAST(ROUND(SUM(volume), 2) AS DOUBLE) AS revenue,
      |       COUNT(*) AS cnt
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
      |         CAST(l.l_extendedprice AS DECIMAL(18,2))
      |           * (1 - CAST(l.l_discount AS DECIMAL(18,2))) AS volume
      |  FROM supplier s
      |  JOIN lineitem l ON s.s_suppkey = l.l_suppkey
      |  JOIN orders o   ON o.o_orderkey = l.l_orderkey
      |  JOIN customer c ON c.c_custkey = o.o_custkey
      |  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
      |  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
      |  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      |     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
      |GROUP BY supp_nation, cust_nation, l_year
      |ORDER BY supp_nation, cust_nation, l_year""".stripMargin) { (s, dir) =>
    val pair = Seq("NATION_3", "NATION_7")
    val n1 = Tables.nation(s, dir).where(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("n1_key"), col("n_name").as("supp_nation"))
    val n2 = Tables.nation(s, dir).where(col("n_name").isin(pair: _*))
      .select(col("n_nationkey").as("n2_key"), col("n_name").as("cust_nation"))
    Tables.lineitem(s, dir)
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_nationkey"),
        col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(Tables.customer(s, dir).select("c_custkey", "c_nationkey"),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(n1), col("s_nationkey") === col("n1_key"))
      .join(broadcast(n2), col("c_nationkey") === col("n2_key"))
      .where((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("bigint").as("l_year"))
      .agg(
        round(sum(col("l_extendedprice").cast("decimal(18,2)")
          * (lit(1) - col("l_discount").cast("decimal(18,2)"))), 2)
          .cast("double").as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  /** Q17 — small-quantity revenue (TPC-H Q17 shape): a CORRELATED scalar
    * subquery (each line item compared to 20% of its own part's average
    * quantity) decorrelated the way every engine must at scale — one
    * per-part aggregate, one equi-join back onto the fact, never a
    * per-row subquery execution. The per-key threshold frame carries NO
    * broadcast hint (it scales with part cardinality — the PlanAuditSpec
    * rule). Threshold floats are safe across engines: sum of integer-valued
    * quantities is IEEE-exact, and both engines state the identical
    * `0.2 * (sum/count)` op order, so the comparison bits agree. */
  val q17SmallQuantity: Reg = Reg.sql(
    "q17_small_quantity",
    """WITH thresh AS (
      |  SELECT l_partkey, 0.2 * AVG(l_quantity) AS t
      |  FROM lineitem GROUP BY l_partkey)
      |SELECT p.p_brand,
      |       COUNT(*) AS small_lines,
      |       CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))), 2)
      |            AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN thresh th ON th.l_partkey = l.l_partkey
      |JOIN part p    ON p.p_partkey = l.l_partkey
      |WHERE l.l_quantity < th.t
      |GROUP BY p.p_brand ORDER BY p.p_brand""".stripMargin) { (s, dir) =>
    val thresh = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey"))
      .agg((lit(0.2) * avg("l_quantity")).as("t"))
    Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(thresh, "l_partkey")
      .where(col("l_quantity") < col("t"))
      .join(Tables.part(s, dir).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("small_lines"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2)
          .cast("double").as("revenue"))
      .orderBy("p_brand")
  }

  /** Q18 — large-volume orders (TPC-H Q18 shape): a HAVING-gated aggregate
    * over the fact feeds a SEMI-JOIN back onto the same fact — the
    * semi-join-reduction decision none of the other star queries hit. The
    * hit set is a per-key aggregate that scales with key cardinality, so it
    * carries NO broadcast hint (the PlanAuditSpec rule); at bench scale AQE
    * broadcasts it, at 100 TB it falls back to a key shuffle that
    * co-partitions with the main orders⋈lineitem join. */
  val q18LargeOrders: Reg = Reg.sql(
    "q18_large_orders",
    """WITH big AS (
      |  SELECT l_orderkey FROM lineitem
      |  GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
      |SELECT c.c_name, c.c_custkey, o.o_orderkey,
      |       CAST(o.o_orderdate AS DATE) AS order_date,
      |       o.o_totalprice AS total_price,
      |       CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
      |FROM customer c
      |JOIN orders o   ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
      |GROUP BY c.c_name, c.c_custkey, o.o_orderkey, order_date, total_price
      |ORDER BY total_price DESC, o.o_orderkey
      |LIMIT 100""".stripMargin) { (s, dir) =>
    // sum(l_quantity) is an integer-valued double sum — exact in IEEE
    // double regardless of order, so both the HAVING gate and the output
    // measure hash identically without DECIMAL detours. o_totalprice is
    // emitted verbatim from parquet (no arithmetic → no ulp risk) and its
    // DESC order is totalized by the unique order key.
    val big = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("big_qty"))
      .where(col("big_qty") > 300)
      .select(col("l_orderkey").as("big_orderkey"))
    Tables.orders(s, dir)
      .join(big, col("o_orderkey") === col("big_orderkey"), "left_semi")
      .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
      .join(Tables.lineitem(s, dir), col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("order_date"),
        col("o_totalprice").as("total_price"))
      .agg(sum("l_quantity").cast("double").as("sum_qty"))
      .orderBy(col("total_price").desc, col("o_orderkey"))
      .limit(100)
  }

  /** J9 — bloom-pruned semi-join: fact rows that cannot match a (filtered,
    * small) dimension are discarded at the scan, before any shuffle — the
    * explicit runtime-filter every engine wants on selective fact⋈dim
    * joins at 100 TB. The oracle is the plain semi-join: bloom pruning has
    * no false negatives and the exact join removes false positives, so the
    * results are identical BY CONSTRUCTION — which is exactly the claim
    * worth gating. */
  val j9BloomPrune: Reg = Reg.sql(
    "j9_bloom_prune",
    """SELECT l.l_returnflag, COUNT(*) AS cnt,
      |       CAST(SUM(l.l_quantity) AS DOUBLE) AS sum_qty
      |FROM lineitem l
      |WHERE l.l_suppkey IN (SELECT s_suppkey FROM supplier WHERE s_acctbal > 9000)
      |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin) { (s, dir) =>
    val hotSuppliers = Tables.supplier(s, dir)
      .where(col("s_acctbal") > 9000).select("s_suppkey")
    BloomPrune.prunedSemiJoin(
      Tables.lineitem(s, dir).select("l_suppkey", "l_returnflag", "l_quantity"),
      hotSuppliers, "l_suppkey", "s_suppkey", expectedKeys = 1000)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("cnt"),
        sum("l_quantity").cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** A16 — one-pass table profiler: per-column null count, exact distinct,
    * min/max in a SINGLE aggregation over the scan (training-data intake
    * profiles every batch this way; two passes over 100 TB is the naive
    * alternative). Output in long form (column, metric, value). */
  val a16TableProfile: Reg = Reg.sql(
    "a16_table_profile",
    """WITH p AS (
      |  SELECT COUNT(*) AS n_rows,
      |         COUNT(*) - COUNT(l_suppkey) AS suppkey_nulls,
      |         COUNT(DISTINCT l_suppkey) AS suppkey_distinct,
      |         CAST(MIN(l_quantity) AS DOUBLE) AS quantity_min,
      |         CAST(MAX(l_quantity) AS DOUBLE) AS quantity_max,
      |         COUNT(DISTINCT l_returnflag) AS returnflag_distinct
      |  FROM lineitem)
      |SELECT col_metric, value FROM (
      |  SELECT 'n_rows' AS col_metric, CAST(n_rows AS DOUBLE) AS value FROM p
      |  UNION ALL SELECT 'quantity_max', quantity_max FROM p
      |  UNION ALL SELECT 'quantity_min', quantity_min FROM p
      |  UNION ALL SELECT 'returnflag_distinct', CAST(returnflag_distinct AS DOUBLE) FROM p
      |  UNION ALL SELECT 'suppkey_distinct', CAST(suppkey_distinct AS DOUBLE) FROM p
      |  UNION ALL SELECT 'suppkey_nulls', CAST(suppkey_nulls AS DOUBLE) FROM p)
      |ORDER BY col_metric""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .agg(
        count(lit(1)).cast("double").as("n_rows"),
        (count(lit(1)) - count(col("l_suppkey"))).cast("double").as("suppkey_nulls"),
        countDistinct(col("l_suppkey")).cast("double").as("suppkey_distinct"),
        min("l_quantity").cast("double").as("quantity_min"),
        max("l_quantity").cast("double").as("quantity_max"),
        countDistinct(col("l_returnflag")).cast("double").as("returnflag_distinct"))
      .unpivot(Array.empty, "col_metric", "value")
      .orderBy("col_metric")
  }

  /** O14 — time-series gap fill with forward-fill: every user gets a dense
    * hourly grid between their first and last event (`sequence` + explode —
    * grid size is bounded by the OBSERVED span per key, never a global
    * clock), missing hours join as nulls, and the last seen hourly sum
    * carries forward via `last(ignoreNulls)` — the resample-and-ffill
    * backbone of telemetry/feature pipelines. Grid hours are epoch-hour
    * longs (µs vs ns floors compose identically; raw timestamps never
    * appear). */
  val o14GapFill: Reg = Reg.sql(
    "o14_gap_fill",
    """WITH hourly AS (
      |  SELECT user_id, epoch_ms(ts) // 3600000 AS h, COUNT(*) AS n,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv
      |  FROM events GROUP BY user_id, h),
      |bounds AS (
      |  SELECT user_id, MIN(h) AS h0, MAX(h) AS h1 FROM hourly GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(h0, h1)) AS h FROM bounds),
      |joined AS (
      |  SELECT g.user_id, g.h, x.n, x.sv FROM grid g
      |  LEFT JOIN hourly x ON g.user_id = x.user_id AND g.h = x.h)
      |SELECT user_id, h, COALESCE(n, 0) AS n_events,
      |       LAST_VALUE(sv IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY h
      |         ROWS UNBOUNDED PRECEDING) AS carried_sum
      |FROM joined ORDER BY user_id, h""".stripMargin) { (s, dir) =>
    // consumed twice (grid bounds + the left join): materialize once or
    // the events scan + aggregation runs for both subtrees
    val hourly = Tables.events(s, dir)
      .groupBy(col("user_id"), expr("unix_millis(ts) div 3600000").as("h"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sv"))
      .localCheckpoint(false)
    val grid = hourly.groupBy("user_id")
      .agg(min("h").as("h0"), max("h").as("h1"))
      .select(col("user_id"), explode(sequence(col("h0"), col("h1"))).as("h"))
    val w = Window.partitionBy("user_id").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("user_id", "h"), "left")
      .select(
        col("user_id"), col("h"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        last(col("sv"), ignoreNulls = true).over(w).as("carried_sum"))
      .orderBy("user_id", "h")
  }

  /** A17 — approximate percentile (KLL-style mergeable sketch) under a
    * bounded-property oracle: at 100 TB the exact `percentile` holds a
    * value-count map per group; `approx_percentile` holds a fixed-size
    * sketch that partial-aggregates map-side. The gate pins the sketch's
    * rank guarantee: the approximate median must land between the exact
    * p45 and p55 (far looser than the sketch's actual accuracy=10000 rank
    * error, so data growth cannot flip it) — DuckDB states the exact
    * median and the constant-true bound the sketch must satisfy. */
  val a17ApproxPercentile: Reg = Reg.sql(
    "a17_approx_percentile",
    """SELECT l_returnflag,
      |       FLOOR(quantile_cont(l_extendedprice, 0.50) * 100) / 100 AS p50_exact,
      |       TRUE AS approx_within_decile,
      |       COUNT(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        expr("percentile(l_extendedprice, array(0.45D, 0.5D, 0.55D))").as("__p"),
        expr("approx_percentile(l_extendedprice, 0.5D, 10000)").as("__approx"),
        count(lit(1)).as("cnt"))
      .select(
        col("l_returnflag"),
        (floor(element_at(col("__p"), 2) * 100) / 100).as("p50_exact"),
        (col("__approx") >= element_at(col("__p"), 1) &&
          col("__approx") <= element_at(col("__p"), 3)).as("approx_within_decile"),
        col("cnt"))
      .orderBy("l_returnflag")
  }

  /** J10 — interval OVERLAP self-join: per customer, how many of their
    * order activity windows (first..last lineitem ship-day) overlap in
    * time. `RangeJoin.overlapJoin` buckets BOTH interval sides and emits
    * each pair from its one canonical bucket — no nested loop, no
    * post-join distinct (see its scaladoc). Ship-days are epoch-day longs
    * derived from the same ms floors both engines share. */
  val j10OverlapJoin: Reg = Reg.sql(
    "j10_overlap_join",
    """WITH win AS (
      |  SELECT l_orderkey AS okey,
      |         MIN(epoch_ms(l_shipdate) // 86400000) AS lo,
      |         MAX(epoch_ms(l_shipdate) // 86400000) AS hi
      |  FROM lineitem GROUP BY l_orderkey),
      |w2 AS (
      |  SELECT o.o_custkey AS custkey, w.okey, w.lo, w.hi
      |  FROM win w JOIN orders o ON w.okey = o.o_orderkey)
      |SELECT a.custkey, COUNT(*) AS overlapping_pairs
      |FROM w2 a JOIN w2 b ON a.custkey = b.custkey AND a.okey < b.okey
      |  AND a.lo <= b.hi AND b.lo <= a.hi
      |GROUP BY a.custkey ORDER BY a.custkey""".stripMargin) { (s, dir) =>
    val wins = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"))
      .agg(
        // l_shipdate is TIMESTAMP_NTZ; the session is pinned to UTC, so the
        // cast reads the same instant DuckDB's epoch_ms sees
        min(expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000")).as("lo"),
        max(expr("unix_millis(cast(l_shipdate as timestamp)) div 86400000")).as("hi"))
      .join(Tables.orders(s, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("custkey"), col("l_orderkey").as("okey"),
        col("lo"), col("hi"))
      // consumed as both overlap sides — materialize the window build once
      .localCheckpoint(false)
    val a = wins.select(col("custkey"), col("okey").as("a_okey"),
      col("lo").as("a_lo"), col("hi").as("a_hi"))
    val b = wins.select(col("custkey"), col("okey").as("b_okey"),
      col("lo").as("b_lo"), col("hi").as("b_hi"))
    // Width tuned to the DATA: synthetic shipdates give a median window of
    // ~1500 days over a ~2500-day domain, so fine buckets explode both
    // sides ~20x for no selectivity gain (the custkey equi-key already
    // bounds each group). Domain-scale width = <=2 covering buckets per
    // interval; the bucket only localizes the canonical-emission rule.
    RangeJoin.overlapJoin(a, "a_lo", "a_hi", b, "b_lo", "b_hi",
      on = Seq("custkey"), bucketWidth = 2048.0)
      .where(col("a_okey") < col("b_okey"))
      .groupBy("custkey")
      .agg(count(lit(1)).as("overlapping_pairs"))
      .orderBy("custkey")
  }

  /** A18 — equi-width histogram per group, fixed domain: bucket id is a
    * pure per-row expression (`floor(v / width)`), so the whole histogram
    * is ONE partial-aggregated shuffle — no bounds pre-pass, no
    * collect-to-driver binning. The fixed domain is the streaming-friendly
    * choice too (bucket ids stable as data arrives). */
  val a18Histogram: Reg = Reg.sql(
    "a18_histogram",
    """SELECT l_returnflag,
      |       CAST(FLOOR(l_extendedprice / 10000) AS BIGINT) AS bucket,
      |       COUNT(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, bucket
      |ORDER BY l_returnflag, bucket""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy(
        col("l_returnflag"),
        floor(col("l_extendedprice") / 10000).cast("bigint").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "bucket")
  }

  /** Q4 — order priority checking (TPC-H Q4 shape): an EXISTS whose inner
    * predicate CORRELATES ACROSS TABLES (the line item's ship date compared
    * to its own order's date) — decorrelated into a left-semi join whose
    * condition mixes the equi key with a non-equi residual. The planner
    * decision this exercises that Q18's semi-join doesn't: the semi side is
    * the RAW fact (no pre-aggregate), so the hash-semi must evaluate the
    * date residual per probe instead of reducing the build side first.
    * The testdata carries no l_commitdate/l_receiptdate, so "late line"
    * is restated on the columns it has: shipped >90 days after the order
    * date. Pure date arithmetic — no float risk. */
  val q4OrderPriority: Reg = Reg.sql(
    "q4_order_priority",
    """SELECT o.o_orderpriority, COUNT(*) AS order_count
      |FROM orders o
      |WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      |  AND o.o_orderdate <  TIMESTAMP '1998-01-01'
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey
      |                AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
      |GROUP BY o.o_orderpriority
      |ORDER BY o.o_orderpriority""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .where(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .join(Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate"),
        col("l_orderkey") === col("o_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 90 DAYS"),
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  /** Q13 — customer order distribution (TPC-H Q13 shape): a LEFT OUTER
    * fact-fact join whose filter lives in the ON clause (a WHERE would
    * silently drop the zero-order customers the query exists to count),
    * then a two-level aggregation (per-customer count → distribution of
    * counts). The right-side-only ON predicate is applied BEFORE the join
    * (semantically identical, and it keeps the filter at the orders scan);
    * `count(o_orderkey)` counts matches, so an unmatched customer
    * contributes c_count = 0. The second aggregate's input is
    * |customers| rows of two ints — the distribution shuffle is trivial at
    * any SF. (custdist, c_count) is a total order because c_count is the
    * group key. */
  val q13OrderDistribution: Reg = Reg.sql(
    "q13_order_distribution",
    """SELECT c_count, COUNT(*) AS custdist
      |FROM (
      |  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      |  FROM customer c LEFT OUTER JOIN orders o
      |    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
      |  GROUP BY c.c_custkey)
      |GROUP BY c_count
      |ORDER BY custdist DESC, c_count DESC""".stripMargin) { (s, dir) =>
    Tables.customer(s, dir).select("c_custkey")
      .join(
        Tables.orders(s, dir).where(col("o_orderpriority") =!= "1-URGENT")
          .select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Q16 — supplier variety per part family (TPC-H Q16 shape): a NOT IN
    * exclusion list (suppliers in deficit — the testdata's stand-in for the
    * spec's complaint-comment scan) becomes a LEFT ANTI join on the fact
    * BEFORE the dimension join, then COUNT(DISTINCT supplier) per part
    * family — the distinct-aggregate-after-anti-join shape no other star
    * query hits. The testdata has no partsupp table, so lineitem plays the
    * part↔supplier bridge role. The exclusion frame is a filtered DIMENSION
    * (suppliers in deficit — bounded fraction of a bounded table), distinct
    * from the per-key aggregates the no-hint rule targets; it still carries
    * no hint, AQE broadcasts it while small. */
  val q16SupplierVariety: Reg = Reg.sql(
    "q16_supplier_variety",
    """SELECT p.p_brand, p.p_size, COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
      |FROM lineitem l
      |JOIN part p ON p.p_partkey = l.l_partkey
      |WHERE p.p_brand <> 'Brand#1'
      |  AND p.p_size IN (1,5,9,13,17,21,25,29)
      |  AND l.l_suppkey NOT IN
      |      (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY p.p_brand, p.p_size
      |ORDER BY supplier_cnt DESC, p.p_brand, p.p_size""".stripMargin) { (s, dir) =>
    val excluded = Tables.supplier(s, dir)
      .where(col("s_acctbal") < 0)
      .select(col("s_suppkey").as("x_suppkey"))
    Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
      .join(excluded, col("l_suppkey") === col("x_suppkey"), "left_anti")
      .join(
        Tables.part(s, dir)
          .where(col("p_brand") =!= "Brand#1" &&
            col("p_size").isin(1, 5, 9, 13, 17, 21, 25, 29))
          .select("p_partkey", "p_brand", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_size"))
  }

  /** Q21 — suppliers who kept orders waiting (TPC-H Q21 shape): EXISTS and
    * NOT EXISTS correlated to the SAME fact (lineitem) with an INEQUALITY
    * correlate (a different supplier on the same order) — the
    * double-self-semi-join shape that is the classic join-order stress
    * test. Both decorrelate to hash joins on the order key with the
    * supplier inequality as residual: semi (some other supplier touched
    * the order) then anti (no OTHER supplier also failed it) — so all
    * three lineitem legs shuffle on l_orderkey and the Exchange is reused
    * across them. "Failed line" is restated on available columns as
    * l_returnflag = 'R' within completed ('F') orders. Supplier joins
    * last, on the already-reduced fact. */
  val q21BlameSupplier: Reg = Reg.sql(
    "q21_blame_supplier",
    """SELECT s.s_name, COUNT(*) AS numwait
      |FROM supplier s
      |JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
      |JOIN orders o ON o.o_orderkey = l1.l_orderkey
      |WHERE o.o_orderstatus = 'F'
      |  AND l1.l_returnflag = 'R'
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
      |                  WHERE l3.l_orderkey = l1.l_orderkey
      |                    AND l3.l_suppkey <> l1.l_suppkey
      |                    AND l3.l_returnflag = 'R')
      |GROUP BY s.s_name
      |ORDER BY numwait DESC, s.s_name""".stripMargin) { (s, dir) =>
    val base = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_returnflag")
    val others = base
      .select(col("l_orderkey").as("l2_orderkey"), col("l_suppkey").as("l2_suppkey"))
    val otherFailed = base.where(col("l_returnflag") === "R")
      .select(col("l_orderkey").as("l3_orderkey"), col("l_suppkey").as("l3_suppkey"))
    base.where(col("l_returnflag") === "R")
      .join(Tables.orders(s, dir).where(col("o_orderstatus") === "F")
          .select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .join(others,
        col("l_orderkey") === col("l2_orderkey") &&
          col("l_suppkey") =!= col("l2_suppkey"), "left_semi")
      .join(otherFailed,
        col("l_orderkey") === col("l3_orderkey") &&
          col("l_suppkey") =!= col("l3_suppkey"), "left_anti")
      .join(Tables.supplier(s, dir).select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
  }

  /** Q22 — dormant high-balance customers (TPC-H Q22 shape): a SCALAR
    * subquery (segment-wide average balance) gating the main scan, plus a
    * NOT EXISTS anti-join to orders. The scalar is a one-row aggregate
    * crossJoined in (broadcast by construction — the accepted 1-row
    * precedent); the threshold is the exact DECIMAL sum cast to DOUBLE
    * divided by the count, the identical IEEE op order in both engines, so
    * the `>` comparison cannot flip. Every testdata customer has SOME
    * order, so dormancy is restated as "no order since 2000-01-01" —
    * which keeps the anti side a date-filtered fact, the shape Q21's
    * full-fact anti doesn't cover. */
  val q22DormantCustomers: Reg = Reg.sql(
    "q22_dormant_customers",
    """WITH seg AS (
      |  SELECT * FROM customer
      |  WHERE c_nationkey IN (1,3,5,7,9,11,13) AND c_acctbal > 0.0),
      |ab AS (
      |  SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
      |           / COUNT(*) AS ab
      |  FROM seg)
      |SELECT c.c_nationkey AS nation, COUNT(*) AS numcust,
      |       CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))), 2) AS DOUBLE)
      |         AS totacctbal
      |FROM customer c, ab
      |WHERE c.c_nationkey IN (1,3,5,7,9,11,13)
      |  AND c.c_acctbal > ab.ab
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY c.c_nationkey
      |ORDER BY c.c_nationkey""".stripMargin) { (s, dir) =>
    val seg = Tables.customer(s, dir)
      .where(col("c_nationkey").isin(1, 3, 5, 7, 9, 11, 13) &&
        col("c_acctbal") > 0.0)
    val avgBal = seg.agg(
      (sum(col("c_acctbal").cast("decimal(18,2)")).cast("double")
        / count(lit(1))).as("ab"))
    seg
      .crossJoin(avgBal)
      .where(col("c_acctbal") > col("ab"))
      .join(
        Tables.orders(s, dir)
          .where(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").as("nation"))
      .agg(
        count(lit(1)).as("numcust"),
        round(sum(col("c_acctbal").cast("decimal(18,2)")), 2)
          .cast("double").as("totacctbal"))
      .orderBy("nation")
  }

  /** O16 — ntile deciles: the bucket-by-rank window shape (o7 running, o8
    * rank, o12 RANGE, o14 gap-fill, o15 rolling median complete the
    * family). Both engines share the ntile contract — equal buckets,
    * earlier buckets absorb the remainder — and the frame order is
    * totalized by (value, event_id) so tie placement cannot differ. */
  val o16NtileDeciles: Reg = Reg.sql(
    "o16_ntile_deciles",
    """SELECT event_id, event_type,
      |       CAST(NTILE(10) OVER (PARTITION BY event_type
      |                            ORDER BY value, event_id) AS BIGINT) AS decile
      |FROM events
      |ORDER BY event_type, decile, event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        ntile(10).over(Window.partitionBy("event_type")
          .orderBy("value", "event_id")).cast("bigint").as("decile"))
      .orderBy("event_type", "decile", "event_id")
  }

  /** O17 — sketch MERGEABILITY under the gate: o10 pins the HLL estimate's
    * error bound; this pins the property that makes sketches THE
    * count-distinct at 100 TB — per-shard sketches unioned estimate the
    * SAME population as the one-shot sketch, so partial aggregation over
    * any partitioning works. Register-wise max is lossless, but the
    * datasketches union materializes into a different target format
    * (HLL_8) than the direct sketch, so the two ESTIMATES may differ by a
    * hair — the contract is therefore stated as both estimates landing
    * within the 5% band of the exact count (comfortably above lgK=12's
    * ~1.6% RSE), not bit-equality. DuckDB states the exact count and the
    * two constant-true gates. */
  val o17HllMerge: Reg = Reg.sql(
    "o17_hll_merge",
    """SELECT COUNT(DISTINCT user_id) AS exact_distinct,
      |       TRUE AS direct_within_bound,
      |       TRUE AS merged_within_bound
      |FROM events""".stripMargin) { (s, dir) =>
    val ev = Tables.events(s, dir)
    val direct = ev.agg(
      hll_sketch_estimate(hll_sketch_agg(col("user_id"), lit(12))).as("direct"))
    val merged = ev.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("merged"))
    val exact = ev.agg(countDistinct(col("user_id")).as("exact_distinct"))
    def inBand(c: org.apache.spark.sql.Column) =
      abs(c.cast("double") - col("exact_distinct").cast("double")) /
        col("exact_distinct").cast("double") <= 0.05
    exact.crossJoin(direct).crossJoin(merged)
      .select(
        col("exact_distinct"),
        inBand(col("direct")).as("direct_within_bound"),
        inBand(col("merged")).as("merged_within_bound"))
  }

  /** O21 — the remaining rank-family windows in one audit: rank,
    * dense_rank, percent_rank, cume_dist, nth_value over a per-nation
    * account-balance order. The order key (acctbal desc, custkey) is a
    * total order, so the rational ranks are tie-free and the identical
    * IEEE division on both engines floor-quantizes identically; nth_value
    * rides the default ANSI frame on both. One window exchange, top-5
    * filter AFTER the full-partition functions (they need the whole
    * partition regardless). */
  val o21RankFamily: Reg = Reg.sql(
    "o21_rank_family",
    """WITH r AS (
      |  SELECT c_nationkey, c_custkey,
      |         RANK() OVER w AS rnk,
      |         DENSE_RANK() OVER w AS drnk,
      |         CAST(FLOOR(PERCENT_RANK() OVER w * 1e6) AS BIGINT) AS pr_micro,
      |         CAST(FLOOR(CUME_DIST() OVER w * 1e6) AS BIGINT) AS cd_micro,
      |         ROUND(CAST(CAST(NTH_VALUE(c_acctbal, 3) OVER w
      |                    AS DECIMAL(18,2)) AS DOUBLE), 2) AS third_bal
      |  FROM customer
      |  WINDOW w AS (PARTITION BY c_nationkey
      |               ORDER BY c_acctbal DESC, c_custkey))
      |SELECT c_nationkey AS nationkey, c_custkey AS custkey,
      |       CAST(rnk AS BIGINT) AS rnk, CAST(drnk AS BIGINT) AS drnk,
      |       pr_micro, cd_micro, third_bal
      |FROM r WHERE rnk <= 5 ORDER BY nationkey, rnk""".stripMargin) { (s, dir) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey").orderBy(desc("c_acctbal"), asc("c_custkey"))
    Tables.customer(s, dir)
      .select(col("c_nationkey"), col("c_custkey"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"),
        col("c_acctbal"))
      .withColumn("pr_micro",
        floor(percent_rank().over(w) * lit(1e6)).cast("bigint"))
      .withColumn("cd_micro",
        floor(cume_dist().over(w) * lit(1e6)).cast("bigint"))
      .withColumn("third_bal",
        round(nth_value(col("c_acctbal"), 3).over(w)
          .cast("decimal(18,2)").cast("double"), 2))
      .where(col("rnk") <= 5)
      .select(col("c_nationkey").as("nationkey"), col("c_custkey").as("custkey"),
        col("rnk").cast("bigint").as("rnk"), col("drnk").cast("bigint").as("drnk"),
        col("pr_micro"), col("cd_micro"), col("third_bal"))
      .orderBy("nationkey", "rnk")
  }

  /** A25 — the bivariate statistical aggregates (corr, covar, OLS fit) in
    * one pass per group: the regression-on-facts shape (price-vs-quantity
    * elasticity per return flag). Both engines one-pass these with partial
    * aggregation (Spark's CentralMomentAgg merges per-partition moments),
    * so the shuffle carries O(groups) moment tuples, never rows. The
    * house float rule applies: one-pass moments accumulate in partition
    * order, so results are rounded to 4 decimals (re-association noise is
    * ~1e-10 relative, four orders below the grid). */
  val a25StatsAgg: Reg = Reg.sql(
    "a25_stats_agg",
    """SELECT l_returnflag,
      |       COUNT(*) AS n,
      |       ROUND(CORR(l_extendedprice, l_quantity), 4) AS price_qty_corr,
      |       ROUND(COVAR_SAMP(l_extendedprice, l_quantity), 4) AS price_qty_covar,
      |       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS fit_slope,
      |       ROUND(REGR_INTERCEPT(l_extendedprice, l_quantity), 4) AS fit_intercept,
      |       ROUND(REGR_R2(l_extendedprice, l_quantity), 4) AS fit_r2
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_extendedprice"), col("l_quantity")), 4)
          .as("price_qty_corr"),
        round(covar_samp(col("l_extendedprice"), col("l_quantity")), 4)
          .as("price_qty_covar"),
        round(expr("regr_slope(l_extendedprice, l_quantity)"), 4)
          .as("fit_slope"),
        round(expr("regr_intercept(l_extendedprice, l_quantity)"), 4)
          .as("fit_intercept"),
        round(expr("regr_r2(l_extendedprice, l_quantity)"), 4)
          .as("fit_r2"))
      .orderBy("l_returnflag")
  }

  /** O22 — multiset set operations: INTERSECT ALL / EXCEPT ALL between two
    * date halves of the order stream, counted per priority. Spark plans
    * both as hash joins with multiplicity bookkeeping (never a distinct —
    * duplicates are data here); counts are exact integers. */
  val o22SetOps: Reg = Reg.sql(
    "o22_set_ops",
    """WITH h1 AS (SELECT o_custkey, o_orderpriority FROM orders
      |            WHERE o_orderdate < DATE '1998-06-01'),
      |h2 AS (SELECT o_custkey, o_orderpriority FROM orders
      |       WHERE o_orderdate >= DATE '1998-06-01'),
      |i AS (SELECT o_orderpriority, COUNT(*) AS both_cnt
      |      FROM (SELECT * FROM h1 INTERSECT ALL SELECT * FROM h2)
      |      GROUP BY 1),
      |e AS (SELECT o_orderpriority, COUNT(*) AS only_h1_cnt
      |      FROM (SELECT * FROM h1 EXCEPT ALL SELECT * FROM h2)
      |      GROUP BY 1)
      |SELECT COALESCE(i.o_orderpriority, e.o_orderpriority) AS priority,
      |       COALESCE(both_cnt, 0) AS both_cnt,
      |       COALESCE(only_h1_cnt, 0) AS only_h1_cnt
      |FROM i FULL OUTER JOIN e ON i.o_orderpriority = e.o_orderpriority
      |ORDER BY priority""".stripMargin) { (s, dir) =>
    val o = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderpriority"), col("o_orderdate"))
    val pivot = lit("1998-06-01").cast("date")
    val h1 = o.where(col("o_orderdate") < pivot).drop("o_orderdate")
    val h2 = o.where(col("o_orderdate") >= pivot).drop("o_orderdate")
    val i = h1.intersectAll(h2).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("both_cnt"))
    val e = h1.exceptAll(h2).groupBy("o_orderpriority")
      .agg(count(lit(1)).as("only_h1_cnt"))
    i.join(e, Seq("o_orderpriority"), "full_outer")
      .select(col("o_orderpriority").as("priority"),
        coalesce(col("both_cnt"), lit(0L)).as("both_cnt"),
        coalesce(col("only_h1_cnt"), lit(0L)).as("only_h1_cnt"))
      .orderBy("priority")
  }

  /** C6 — the plain-SQL surface end to end: a query authored as SQL TEXT
    * against a registered view, using the engine's injected native
    * function (`haversine_m`, the codegen'd Catalyst expression from
    * GraftExtensions). Proves a reference user can point spark.sql at the
    * engine and go; whole-meter floors keep the trig cross-libm safe. */
  val c6SqlSurface: Reg = Reg.sql(
    "c6_sql_surface",
    """SELECT s_nationkey AS nationkey, COUNT(*) AS n,
      |       CAST(FLOOR(MIN(2 * 6371000 * ASIN(SQRT(
      |         POW(SIN(RADIANS((s_suppkey % 80) - 0.0) / 2), 2) +
      |         COS(RADIANS(0.0)) * COS(RADIANS(s_suppkey % 80)) *
      |         POW(SIN(RADIANS((s_suppkey % 160) - 0.0) / 2), 2))))) AS BIGINT)
      |         AS min_m,
      |       CAST(FLOOR(MAX(2 * 6371000 * ASIN(SQRT(
      |         POW(SIN(RADIANS((s_suppkey % 80) - 0.0) / 2), 2) +
      |         COS(RADIANS(0.0)) * COS(RADIANS(s_suppkey % 80)) *
      |         POW(SIN(RADIANS((s_suppkey % 160) - 0.0) / 2), 2))))) AS BIGINT)
      |         AS max_m
      |FROM supplier GROUP BY s_nationkey ORDER BY nationkey""".stripMargin) { (s, dir) =>
    Tables.supplier(s, dir).createOrReplaceTempView("graft_supplier_v")
    s.sql(
      """SELECT s_nationkey AS nationkey, COUNT(*) AS n,
        |       CAST(FLOOR(MIN(haversine_m(0.0, 0.0, s_suppkey % 80,
        |                                  s_suppkey % 160))) AS BIGINT) AS min_m,
        |       CAST(FLOOR(MAX(haversine_m(0.0, 0.0, s_suppkey % 80,
        |                                  s_suppkey % 160))) AS BIGINT) AS max_m
        |FROM graft_supplier_v GROUP BY s_nationkey ORDER BY nationkey""".stripMargin)
  }

  /** A26 — arbitrary GROUPING SETS with grouping_id(): the multi-grain
    * aggregate shape rollup/cube (a12/a15) cannot express — here the two
    * single-key grains plus the grand total, WITHOUT the pair grain. One
    * Expand + one aggregate; grouping_id() disambiguates output rows
    * exactly as a BI layer consumes them. */
  val a26GroupingSets: Reg = Reg.sql(
    "a26_grouping_sets",
    """SELECT COALESCE(l_returnflag, '~') AS returnflag,
      |       COALESCE(l_linestatus, '~') AS linestatus,
      |       CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus)
      |            AS BIGINT) AS gid,
      |       COUNT(*) AS cnt,
      |       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2)
      |         AS sum_qty
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
      |ORDER BY gid, returnflag, linestatus""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq.empty),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping_id().cast("bigint").as("gid"),
        count(lit(1)).as("cnt"),
        round(sum(col("l_quantity").cast("decimal(18,2)")).cast("double"), 2)
          .as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("~")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("~")).as("linestatus"),
        col("gid"), col("cnt"), col("sum_qty"))
      .orderBy("gid", "returnflag", "linestatus")
  }

  /** O24 — tie-AWARE per-group top-k: RANK over a coarse score admits
    * every row tied at the boundary (o2's row_number form cuts ties
    * arbitrarily — correct only under a total order; this is the form for
    * score-ranked data where dropping a tied peer is a correctness bug).
    * Group sizes become data-dependent, which is exactly what the gate
    * pins. */
  val o24TopkTies: Reg = Reg.sql(
    "o24_topk_with_ties",
    """WITH r AS (
      |  SELECT c_nationkey,
      |         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS score,
      |         RANK() OVER (PARTITION BY c_nationkey
      |                      ORDER BY CAST(FLOOR(c_acctbal / 1000) AS BIGINT)
      |                        DESC) AS rnk
      |  FROM customer)
      |SELECT c_nationkey AS nationkey,
      |       COUNT(*) AS top_cnt,
      |       CAST(MIN(score) AS BIGINT) AS min_score,
      |       CAST(MAX(score) AS BIGINT) AS max_score
      |FROM r WHERE rnk <= 3
      |GROUP BY c_nationkey ORDER BY nationkey""".stripMargin) { (s, dir) =>
    val score = floor(col("c_acctbal") / 1000).cast("bigint")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_nationkey").orderBy(col("score").desc)
    Tables.customer(s, dir)
      .select(col("c_nationkey"), score.as("score"))
      .withColumn("rnk", rank().over(w))
      .where(col("rnk") <= 3)
      .groupBy(col("c_nationkey").as("nationkey"))
      .agg(count(lit(1)).as("top_cnt"),
        min("score").cast("bigint").as("min_score"),
        max("score").cast("bigint").as("max_score"))
      .orderBy("nationkey")
  }

  /** A27 — predicate aggregates (count_if / bool_and / bool_or): the
    * data-quality-assertion shape ("EVERY row in the partition satisfies
    * X") as one partial-aggregated pass, exact booleans and counts. */
  val a27BoolAggs: Reg = Reg.sql(
    "a27_bool_aggs",
    """SELECT o_orderpriority AS priority,
      |       CAST(COUNT_IF(o_totalprice > 100000) AS BIGINT) AS big_orders,
      |       BOOL_AND(o_totalprice > 0) AS all_positive,
      |       BOOL_OR(o_orderstatus = 'F') AS any_final
      |FROM orders GROUP BY o_orderpriority ORDER BY priority""".stripMargin) { (s, dir) =>
    Tables.orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(
        count_if(col("o_totalprice") > 100000).as("big_orders"),
        bool_and(col("o_totalprice") > 0).as("all_positive"),
        bool_or(col("o_orderstatus") === "F").as("any_final"))
      .orderBy("priority")
  }

  /** A28 — ordered string aggregation: the BI "concatenate members per
    * group" op. Determinism comes from sorting BEFORE joining (array_sort
    * + concat_ws ≡ DuckDB's string_agg ORDER BY); a bounded member filter
    * keeps rows small — at scale the cap belongs in the query, not in hope. */
  val a28StringAgg: Reg = Reg.sql(
    "a28_string_agg",
    """SELECT s_nationkey AS nationkey,
      |       COUNT(*) AS members,
      |       STRING_AGG(s_name, ',' ORDER BY s_name) AS names
      |FROM supplier WHERE s_suppkey % 100 < 3
      |GROUP BY s_nationkey ORDER BY nationkey""".stripMargin) { (s, dir) =>
    Tables.supplier(s, dir)
      .where(col("s_suppkey") % 100 < 3)
      .groupBy(col("s_nationkey").as("nationkey"))
      .agg(
        count(lit(1)).as("members"),
        concat_ws(",", array_sort(collect_list(col("s_name")))).as("names"))
      .orderBy("nationkey")
  }

  /** J13 — FORWARD as-of join (earliest right row at-or-after each left
    * time): j6's union idiom traversed in reverse — one key shuffle, one
    * per-partition sort by (time DESC, side), running last(ignoreNulls)
    * carrying the NEAREST FOLLOWING click payload. Same zero-pair-expansion
    * plan as backward; right-side (key,time) ties resolve to the greatest
    * payload struct (≡ the oracle's event_id-DESC canonical row). The
    * "time-to-next-event" shape behind conversion-lag and SLA analyses. */
  val j13AsofForward: Reg = Reg.sql(
    "j13_asof_forward",
    """SELECT p.event_id, p.user_id, p.value AS purchase_value,
      |       c.event_id AS next_click_id, c.value AS next_click_value,
      |       epoch_ms(c.ts) - epoch_ms(p.ts) AS ms_until_click
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (
      |  SELECT user_id, ts, event_id, value FROM (
      |    SELECT user_id, ts, event_id, value,
      |           ROW_NUMBER() OVER (PARTITION BY user_id, ts
      |                              ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = 'click') WHERE rn = 1) c
      |  ON p.user_id = c.user_id AND p.ts <= c.ts
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.StructType
    val ev = Tables.events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val rStructT = StructType(
      clicks.select(col("event_id"), col("value"), col("ts")).schema.fields)
    val lStructT = StructType(purchases.schema.fields)
    val l = purchases.select(col("user_id"), col("ts").as("__t"),
      lit(1).as("__side"),
      struct(col("event_id"), col("user_id"), col("ts"), col("value")).as("__l"),
      lit(null).cast(rStructT).as("__r"))
    val r = clicks.where(col("user_id").isNotNull)
      .select(col("user_id"), col("ts").as("__t"), lit(0).as("__side"),
        lit(null).cast(lStructT).as("__l"),
        struct(col("event_id"), col("value"), col("ts")).as("__r"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id")
      .orderBy(col("__t").desc, col("__side").asc, col("__r").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    l.unionByName(r)
      .withColumn("__next", last(col("__r"), ignoreNulls = true).over(w))
      .where(col("__side") === 1)
      .select(
        col("__l.event_id").as("event_id"),
        col("user_id"),
        col("__l.value").as("purchase_value"),
        col("__next.event_id").as("next_click_id"),
        col("__next.value").as("next_click_value"),
        (unix_millis(col("__next.ts")) - unix_millis(col("__l.ts")))
          .as("ms_until_click"))
      .orderBy("event_id")
  }

  /** J15 — NEAREST as-of join, completing the as-of family (j6 backward,
    * j13 forward): each purchase pairs with its click closest IN ABSOLUTE
    * TIME, whichever side it falls on — the sensor/label-alignment shape
    * (match a reading to the nearest calibration, an event to the nearest
    * snapshot). One union frame, ONE key exchange, TWO per-partition
    * sorts (asc and desc share the hashpartitioning); the backward and
    * forward carries are the j6/j13 running-last windows, and the nearer
    * candidate wins with ties to the EARLIER (backward) click. Right-side
    * (key, time) ties resolve to the greatest payload struct, restated by
    * the oracle's event_id-DESC canonical row. ms_to_click is SIGNED
    * (negative = click before purchase), so the verdict side is hashed
    * too. */
  val j15AsofNearest: Reg = Reg.sql(
    "j15_asof_nearest",
    """WITH c AS (
      |  SELECT user_id, ts, event_id, value FROM (
      |    SELECT user_id, ts, event_id, value,
      |           ROW_NUMBER() OVER (PARTITION BY user_id, ts
      |                              ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = 'click') WHERE rn = 1),
      |p AS (SELECT event_id, user_id, ts, value FROM events
      |      WHERE event_type = 'purchase'),
      |b AS (
      |  SELECT p.event_id, c.event_id AS b_id, c.value AS b_value, c.ts AS b_ts
      |  FROM p ASOF LEFT JOIN c
      |    ON p.user_id = c.user_id AND p.ts >= c.ts),
      |f AS (
      |  SELECT p.event_id, c.event_id AS f_id, c.value AS f_value, c.ts AS f_ts
      |  FROM p ASOF LEFT JOIN c
      |    ON p.user_id = c.user_id AND p.ts <= c.ts)
      |SELECT p.event_id, p.user_id, p.value AS purchase_value,
      |       CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND
      |                 epoch_ms(p.ts) - epoch_ms(b_ts)
      |                 <= epoch_ms(f_ts) - epoch_ms(p.ts))
      |            THEN b_id ELSE f_id END AS nearest_click_id,
      |       CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND
      |                 epoch_ms(p.ts) - epoch_ms(b_ts)
      |                 <= epoch_ms(f_ts) - epoch_ms(p.ts))
      |            THEN b_value ELSE f_value END AS nearest_click_value,
      |       CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL AND
      |                 epoch_ms(p.ts) - epoch_ms(b_ts)
      |                 <= epoch_ms(f_ts) - epoch_ms(p.ts))
      |            THEN epoch_ms(b_ts) - epoch_ms(p.ts)
      |            ELSE epoch_ms(f_ts) - epoch_ms(p.ts) END AS ms_to_click
      |FROM p JOIN b USING (event_id) JOIN f USING (event_id)
      |ORDER BY p.event_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.types.StructType
    val ev = Tables.events(s, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    val clicks = ev.where(col("event_type") === "click")
      .select("event_id", "user_id", "ts", "value")
    val rStructT = StructType(
      clicks.select(col("event_id"), col("value"), col("ts")).schema.fields)
    val lStructT = StructType(purchases.schema.fields)
    val l = purchases.select(col("user_id"), col("ts").as("__t"),
      lit(1).as("__side"),
      struct(col("event_id"), col("user_id"), col("ts"), col("value")).as("__l"),
      lit(null).cast(rStructT).as("__r"))
    val r = clicks.where(col("user_id").isNotNull)
      .select(col("user_id"), col("ts").as("__t"), lit(0).as("__side"),
        lit(null).cast(lStructT).as("__l"),
        struct(col("event_id"), col("value"), col("ts")).as("__r"))
    val W = org.apache.spark.sql.expressions.Window
    // both windows hash-partition on user_id: ONE exchange, two sorts
    val wB = W.partitionBy("user_id")
      .orderBy(col("__t").asc, col("__side").asc, col("__r").asc)
      .rowsBetween(W.unboundedPreceding, 0)
    val wF = W.partitionBy("user_id")
      .orderBy(col("__t").desc, col("__side").asc, col("__r").asc)
      .rowsBetween(W.unboundedPreceding, 0)
    val carried = l.unionByName(r)
      .withColumn("__prev", last(col("__r"), ignoreNulls = true).over(wB))
      .withColumn("__next", last(col("__r"), ignoreNulls = true).over(wF))
      .where(col("__side") === 1)
    val db = unix_millis(col("__l.ts")) - unix_millis(col("__prev.ts"))
    val df = unix_millis(col("__next.ts")) - unix_millis(col("__l.ts"))
    // ties (db == df) go backward — the earlier click
    val takeB = col("__next").isNull || (col("__prev").isNotNull && db <= df)
    carried.select(
      col("__l.event_id").as("event_id"),
      col("user_id"),
      col("__l.value").as("purchase_value"),
      when(takeB, col("__prev.event_id")).otherwise(col("__next.event_id"))
        .as("nearest_click_id"),
      when(takeB, col("__prev.value")).otherwise(col("__next.value"))
        .as("nearest_click_value"),
      when(takeB, -db).otherwise(df).as("ms_to_click"))
      .orderBy("event_id")
  }

  /** O27 — KMV (k-minimum-values) distinct sketch with MERGEABLE set
    * operations (Bar-Yossef et al. 2002; the theta-sketch family): two
    * customer sets are sketched by their 256 smallest md5-derived hash
    * values; distinct-count estimates use the classic (k-1)/h_k formula,
    * the UNION sketch is the k smallest of the merged signatures, and the
    * intersection estimate is the Jaccard-scaled union. Every estimate is
    * integer division over integers derived from md5, so both engines
    * compute bit-identical sketches — the gate proves the merge algebra,
    * and the exact counts ride along to show the error (~5%). Scale:
    * THE point of KMV is that each set's signature is a fixed 256-row
    * frame regardless of input size, and union/intersection need only the
    * signatures — at 100 TB you sketch each partition and merge, never
    * re-scanning; DISTINCT+ORDER+LIMIT compiles to per-partition top-k. */
  val o27KmvDistinct: Reg = Reg.sql(
    "o27_kmv_distinct",
    """WITH h AS (SELECT DISTINCT o_orderstatus AS st, o_custkey AS k,
      |    list_sum(list_transform(generate_series(1, 8),
      |      i -> CAST((strpos('0123456789abcdef',
      |              substr(md5(CAST(o_custkey AS VARCHAR)), i, 1)) - 1) AS BIGINT)
      |           * (CAST(1 AS BIGINT) << (4 * (8 - i))))) AS h
      |  FROM orders WHERE o_orderstatus IN ('O', 'F')),
      |ha AS (SELECT k, h FROM h WHERE st = 'O'),
      |hb AS (SELECT k, h FROM h WHERE st = 'F'),
      |ska AS (SELECT h FROM ha ORDER BY h LIMIT 256),
      |skb AS (SELECT h FROM hb ORDER BY h LIMIT 256),
      |sku AS (SELECT h FROM (SELECT h FROM ska UNION SELECT h FROM skb)
      |        ORDER BY h LIMIT 256),
      |ea AS (SELECT COUNT(*) AS c, MAX(h) AS hk FROM ska),
      |eb AS (SELECT COUNT(*) AS c, MAX(h) AS hk FROM skb),
      |eu AS (SELECT COUNT(*) AS c, MAX(h) AS hk FROM sku),
      |mt AS (SELECT COUNT(*) AS m FROM sku
      |       WHERE h IN (SELECT h FROM ska) AND h IN (SELECT h FROM skb)),
      |est AS (SELECT
      |  CASE WHEN ea.c < 256 THEN ea.c
      |       ELSE (255 * 4294967296) // ea.hk END AS est_a,
      |  CASE WHEN eb.c < 256 THEN eb.c
      |       ELSE (255 * 4294967296) // eb.hk END AS est_b,
      |  CASE WHEN eu.c < 256 THEN eu.c
      |       ELSE (255 * 4294967296) // eu.hk END AS est_union,
      |  mt.m AS m, eu.c AS uc
      |  FROM ea, eb, eu, mt),
      |truth AS (SELECT
      |  (SELECT COUNT(*) FROM ha) AS true_a,
      |  (SELECT COUNT(*) FROM hb) AS true_b,
      |  (SELECT COUNT(DISTINCT k) FROM h) AS true_union,
      |  (SELECT COUNT(*) FROM ha WHERE k IN (SELECT k FROM hb)) AS true_inter)
      |SELECT CAST(est_a AS BIGINT) AS est_a, CAST(est_b AS BIGINT) AS est_b,
      |  CAST(est_union AS BIGINT) AS est_union,
      |  CAST((m * est_union) // uc AS BIGINT) AS est_inter,
      |  true_a, true_b, true_union, true_inter
      |FROM est, truth""".stripMargin) { (s, dir) =>
    val base = Tables.orders(s, dir)
      .where(col("o_orderstatus").isin("O", "F"))
      .select(col("o_orderstatus").as("st"), col("o_custkey").as("k"))
      .distinct()
      // same 32-bit value as the oracle's hex fold: base-16 of the first
      // 8 md5 hex chars
      .withColumn("h",
        expr("CAST(conv(substring(md5(CAST(k AS STRING)), 1, 8), 16, 10) AS BIGINT)"))
      // (st, custkey) cardinality — tiny vs orders; feeds 6 consumers
      .localCheckpoint(false)
    val ha = base.where(col("st") === "O").select("k", "h")
    val hb = base.where(col("st") === "F").select("k", "h")
    val ska = ha.select("h").orderBy("h").limit(256)
    val skb = hb.select("h").orderBy("h").limit(256)
    val sku = ska.union(skb).distinct().orderBy("h").limit(256)
    def sig(df: DataFrame, c: String, hk: String) =
      df.agg(count(lit(1)).as(c), max("h").as(hk))
    val m = sku.join(ska, Seq("h"), "left_semi").join(skb, Seq("h"), "left_semi")
      .agg(count(lit(1)).as("m"))
    val truth =
      ha.agg(count(lit(1)).as("true_a"))
        .crossJoin(hb.agg(count(lit(1)).as("true_b")))
        .crossJoin(base.select("k").distinct().agg(count(lit(1)).as("true_union")))
        .crossJoin(ha.select("k").join(hb.select("k"), Seq("k"), "left_semi")
          .agg(count(lit(1)).as("true_inter")))
    sig(ska, "ca", "hka").crossJoin(sig(skb, "cb", "hkb"))
      .crossJoin(sig(sku, "cu", "hku")).crossJoin(m).crossJoin(truth)
      .select(
        expr("CAST(CASE WHEN ca < 256 THEN ca ELSE (255 * 4294967296) DIV hka END AS BIGINT)").as("est_a"),
        expr("CAST(CASE WHEN cb < 256 THEN cb ELSE (255 * 4294967296) DIV hkb END AS BIGINT)").as("est_b"),
        expr("CAST(CASE WHEN cu < 256 THEN cu ELSE (255 * 4294967296) DIV hku END AS BIGINT)").as("est_union"),
        expr("""CAST((m * (CASE WHEN cu < 256 THEN cu
               |           ELSE (255 * 4294967296) DIV hku END)) DIV cu AS BIGINT)"""
          .stripMargin).as("est_inter"),
        col("true_a"), col("true_b"), col("true_union"), col("true_inter"))
  }

  /** A29 — declarative data-quality expectations (the Deequ/
    * Great-Expectations operator): a constraint suite — completeness,
    * uniqueness, range, domain membership, referential integrity —
    * evaluated into one violations report. Scale: all per-table checks
    * FUSE into a single aggregate pass over each table (Deequ's analyzer
    * fusion), so a 20-constraint suite over 100 TB costs two scans + one
    * broadcast anti-join, not 20 scans. Counts are exact integers; the
    * discount-policy constraint genuinely fails on this corpus, proving
    * the FAIL branch. */
  val a29Expectations: Reg = Reg.sql(
    "a29_expectations",
    """WITH li AS (SELECT
      |    COUNT(*) AS total,
      |    COUNT(*) - COUNT(DISTINCT (l_orderkey, l_linenumber)) AS v_pk,
      |    COUNT(*) FILTER (WHERE l_quantity < 1 OR l_quantity > 50) AS v_qty,
      |    COUNT(*) FILTER (WHERE l_extendedprice < 0) AS v_price,
      |    COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS v_null,
      |    COUNT(*) FILTER (WHERE l_discount > 0.08) AS v_disc
      |  FROM lineitem),
      |ord AS (SELECT
      |    COUNT(*) AS total,
      |    COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS v_status,
      |    COUNT(*) FILTER (WHERE o_orderdate < TIMESTAMP '1992-01-01'
      |                        OR o_orderdate >= TIMESTAMP '2002-01-01') AS v_date
      |  FROM orders),
      |fk AS (SELECT COUNT(*) AS v FROM lineitem l
      |       WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                         WHERE o.o_orderkey = l.l_orderkey)),
      |rep AS (
      |  SELECT 'lineitem.pk_unique' AS "constraint", total, v_pk AS violations FROM li
      |  UNION ALL SELECT 'lineitem.quantity_range', total, v_qty FROM li
      |  UNION ALL SELECT 'lineitem.price_nonneg', total, v_price FROM li
      |  UNION ALL SELECT 'lineitem.orderkey_complete', total, v_null FROM li
      |  UNION ALL SELECT 'lineitem.discount_policy', total, v_disc FROM li
      |  UNION ALL SELECT 'lineitem.fk_orders', li.total, fk.v FROM li, fk
      |  UNION ALL SELECT 'orders.status_domain', total, v_status FROM ord
      |  UNION ALL SELECT 'orders.date_range', total, v_date FROM ord)
      |SELECT "constraint", total, violations,
      |       CASE WHEN violations = 0 THEN 'PASS' ELSE 'FAIL' END AS status
      |FROM rep ORDER BY "constraint"""".stripMargin) { (s, dir) =>
    val li = Tables.lineitem(s, dir).agg(
      count(lit(1)).as("total"),
      (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber"))).as("v_pk"),
      count(when(col("l_quantity") < 1 || col("l_quantity") > 50, 1)).as("v_qty"),
      count(when(col("l_extendedprice") < 0, 1)).as("v_price"),
      count(when(col("l_orderkey").isNull, 1)).as("v_null"),
      count(when(col("l_discount") > 0.08, 1)).as("v_disc"))
    val ord = Tables.orders(s, dir).agg(
      count(lit(1)).as("total"),
      count(when(!col("o_orderstatus").isin("O", "F", "P"), 1)).as("v_status"),
      count(when(col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("2002-01-01").cast("timestamp"), 1)).as("v_date"))
    // referential check: orders is a FACT table — this must stay a
    // shuffled anti-join on the key, never a broadcast (OOM at scale)
    val fk = Tables.lineitem(s, dir).select("l_orderkey")
      .join(Tables.orders(s, dir).select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("v"))
    def row(df: DataFrame, name: String, viol: String) =
      df.select(lit(name).as("constraint"), col("total"),
        col(viol).as("violations"))
    val fkRow = li.select(col("total")).crossJoin(fk)
      .select(lit("lineitem.fk_orders").as("constraint"), col("total"),
        col("v").as("violations"))
    row(li, "lineitem.pk_unique", "v_pk")
      .unionByName(row(li, "lineitem.quantity_range", "v_qty"))
      .unionByName(row(li, "lineitem.price_nonneg", "v_price"))
      .unionByName(row(li, "lineitem.orderkey_complete", "v_null"))
      .unionByName(row(li, "lineitem.discount_policy", "v_disc"))
      .unionByName(fkRow)
      .unionByName(row(ord, "orders.status_domain", "v_status"))
      .unionByName(row(ord, "orders.date_range", "v_date"))
      .withColumn("status",
        when(col("violations") === 0, "PASS").otherwise("FAIL"))
      .orderBy("constraint")
  }

  /** O28 — Holt linear (double exponential) smoothing per user over the
    * event stream: level+trend recursion l_t = αx_t + (1-α)(l+b),
    * b_t = β(l_t - l_{t-1}) + (1-β)b, α = β = 0.5. A genuinely SEQUENTIAL
    * per-key computation expressed as one `aggregate` HOF over the
    * time-ordered value array — per key O(n), zero extra shuffles (the
    * sort happens inside array_sort after one groupBy). The DuckDB oracle
    * replays the identical recursion as a recursive CTE; both engines
    * evaluate the same IEEE op tree in the same order, so the final
    * level/trend are bit-identical and the floor-quantized outputs hash
    * green. Scale: state per key is 2 doubles; the collect_list is
    * bounded by per-user history length (the r7_refine_loop cap argument
    * applies if histories are unbounded). */
  val o28HoltLinear: Reg = Reg.sql(
    "o28_holt_linear",
    """WITH RECURSIVE
      |v AS (SELECT user_id,
      |        ROW_NUMBER() OVER (PARTITION BY user_id
      |                           ORDER BY ts, event_id) AS t,
      |        CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS xc
      |      FROM events),
      |n AS (SELECT user_id, MAX(t) AS n FROM v GROUP BY 1 HAVING MAX(t) >= 2),
      |init AS (SELECT v1.user_id, CAST(v1.xc AS DOUBLE) AS l,
      |                CAST(v2.xc - v1.xc AS DOUBLE) AS b
      |         FROM v v1 JOIN v v2 ON v2.user_id = v1.user_id AND v2.t = 2
      |         WHERE v1.t = 1),
      |dp AS (
      |  SELECT i.user_id, 1 AS t, i.l, i.b FROM init i
      |  UNION ALL
      |  SELECT dp.user_id, dp.t + 1,
      |    0.5 * CAST(v.xc AS DOUBLE) + 0.5 * (dp.l + dp.b),
      |    0.5 * ((0.5 * CAST(v.xc AS DOUBLE) + 0.5 * (dp.l + dp.b)) - dp.l)
      |      + 0.5 * dp.b
      |  FROM dp JOIN v ON v.user_id = dp.user_id AND v.t = dp.t + 1)
      |SELECT dp.user_id, n.n AS n_obs,
      |  CAST(FLOOR(dp.l) AS BIGINT) AS level_c,
      |  CAST(FLOOR(dp.b) AS BIGINT) AS trend_c,
      |  CAST(FLOOR(dp.l + dp.b) AS BIGINT) AS forecast_c
      |FROM dp JOIN n ON n.user_id = dp.user_id AND dp.t = n.n
      |ORDER BY dp.user_id""".stripMargin) { (s, dir) =>
    Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"),
        expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").as("xc"))
      .groupBy("user_id")
      .agg(expr("transform(array_sort(collect_list(struct(ts, event_id, xc))), p -> p.xc)")
        .as("xs"))
      .withColumn("n_obs", size(col("xs")).cast("long"))
      .where(col("n_obs") >= 2)
      .withColumn("st",
        expr("""aggregate(sequence(2, size(xs)),
               |  named_struct(
               |    'l', CAST(element_at(xs, 1) AS DOUBLE),
               |    'b', CAST(element_at(xs, 2) - element_at(xs, 1) AS DOUBLE)),
               |  (acc, i) -> named_struct(
               |    'l', 0.5 * CAST(element_at(xs, i) AS DOUBLE)
               |         + 0.5 * (acc.l + acc.b),
               |    'b', 0.5 * ((0.5 * CAST(element_at(xs, i) AS DOUBLE)
               |                 + 0.5 * (acc.l + acc.b)) - acc.l)
               |         + 0.5 * acc.b))""".stripMargin))
      .select(col("user_id"), col("n_obs"),
        expr("CAST(FLOOR(st.l) AS BIGINT)").as("level_c"),
        expr("CAST(FLOOR(st.b) AS BIGINT)").as("trend_c"),
        expr("CAST(FLOOR(st.l + st.b) AS BIGINT)").as("forecast_c"))
      .orderBy("user_id")
  }

  /** C7 — forward geodesy, completing the C1 haversine (inverse) pair:
    * initial bearing from each sampled point toward a waypoint 1°N/0.5°E
    * of it, and the destination point 500 m along that bearing (the
    * standard spherical direct formulas). Both engines evaluate the
    * IDENTICAL trig op tree (the c1/haversine precedent: libm-compatible
    * SIN/COS/ASIN/ATAN2 agree bit-for-bit on these magnitudes), outputs
    * floor-quantized to micro-degrees. Scale: a pure per-row projection
    * fused with the scan — zero shuffles before the output sort. */
  val c7GeodesicOps: Reg = {
    val thetaSql =
      """ATAN2(SIN(RADIANS(0.5)) * COS(RADIANS(lat + 1.0)),
        |          COS(RADIANS(lat)) * SIN(RADIANS(lat + 1.0)) -
        |          SIN(RADIANS(lat)) * COS(RADIANS(lat + 1.0)) * COS(RADIANS(0.5)))"""
        .stripMargin
    Reg.sql(
      "c7_geodesic_ops",
      s"""WITH m AS (
         |  SELECT event_id AS point_id,
         |         ((user_id % 90) + (event_id % 25) * CAST(0.0003 AS DOUBLE)) AS lat,
         |         (((user_id % 180) - 90) + (event_id % 23) * CAST(0.0003 AS DOUBLE)) AS lon
         |  FROM events WHERE event_id % 101 = 0),
         |b AS (
         |  SELECT point_id, lat, lon,
         |    $thetaSql AS theta,
         |    CAST(500.0 AS DOUBLE) / 6371000.0 AS dr
         |  FROM m)
         |SELECT point_id,
         |  CAST(FLOOR(DEGREES(theta) * 1e6) AS BIGINT) AS bearing_micro,
         |  CAST(FLOOR(DEGREES(ASIN(SIN(RADIANS(lat)) * COS(dr) +
         |    COS(RADIANS(lat)) * SIN(dr) * COS(theta))) * 1e6) AS BIGINT)
         |    AS dest_lat_micro,
         |  CAST(FLOOR((lon + DEGREES(ATAN2(SIN(theta) * SIN(dr) * COS(RADIANS(lat)),
         |    COS(dr) - SIN(RADIANS(lat)) * SIN(ASIN(SIN(RADIANS(lat)) * COS(dr) +
         |      COS(RADIANS(lat)) * SIN(dr) * COS(theta)))))) * 1e6) AS BIGINT)
         |    AS dest_lon_micro
         |FROM b ORDER BY point_id""".stripMargin) { (s, dir) =>
      Tables.events(s, dir)
        .where(col("event_id") % 101 === 0)
        .select(col("event_id").as("point_id"),
          expr("((user_id % 90) + (event_id % 25) * CAST(0.0003 AS DOUBLE))").as("lat"),
          expr("(((user_id % 180) - 90) + (event_id % 23) * CAST(0.0003 AS DOUBLE))").as("lon"))
        .withColumn("theta", expr(thetaSql))
        .withColumn("dr", expr("CAST(500.0 AS DOUBLE) / 6371000.0"))
        .select(col("point_id"),
          expr("CAST(FLOOR(DEGREES(theta) * 1e6) AS BIGINT)").as("bearing_micro"),
          expr("""CAST(FLOOR(DEGREES(ASIN(SIN(RADIANS(lat)) * COS(dr) +
                 |  COS(RADIANS(lat)) * SIN(dr) * COS(theta))) * 1e6) AS BIGINT)"""
            .stripMargin).as("dest_lat_micro"),
          expr("""CAST(FLOOR((lon + DEGREES(ATAN2(SIN(theta) * SIN(dr) * COS(RADIANS(lat)),
                 |  COS(dr) - SIN(RADIANS(lat)) * SIN(ASIN(SIN(RADIANS(lat)) * COS(dr) +
                 |    COS(RADIANS(lat)) * SIN(dr) * COS(theta)))))) * 1e6) AS BIGINT)"""
            .stripMargin).as("dest_lon_micro"))
        .orderBy("point_id")
    }
  }

  /** C8 — the CircleFilterRule end-to-end: a radius query around a
    * constant center, written as plain SQL text through the injected
    * `haversine_m`, executed against REAL parquet files with raw
    * latitude/longitude columns. The optimizer rule conjoins the
    * circle's bounding box so the scan prunes on row-group min/max
    * stats (CircleFilterRuleSpec asserts the bounds reach
    * `PushedFilters`); the box is a strict superset of the circle, so
    * the DuckDB oracle — which states only the exact haversine
    * predicate — proves the rewrite changes nothing. At 100 TB this is
    * the difference between scanning the planet and scanning ~4° of it. */
  val c8CircleFilter: Reg = Reg.sql(
    "c8_circle_filter",
    """WITH m AS (
      |  SELECT ((user_id % 90) + (event_id % 25) * CAST(0.0003 AS DOUBLE)) AS lat,
      |         (((user_id % 180) - 90) + (event_id % 23) * CAST(0.0003 AS DOUBLE)) AS lon
      |  FROM events),
      |d AS (SELECT 2 * 6371000 * ASIN(SQRT(
      |        POW(SIN(RADIANS(45.0 - lat) / 2), 2) +
      |        COS(RADIANS(lat)) * COS(RADIANS(45.0)) *
      |        POW(SIN(RADIANS(-45.0 - lon) / 2), 2))) AS dist FROM m)
      |SELECT COUNT(*) AS cnt,
      |       CAST(FLOOR(MIN(dist)) AS BIGINT) AS min_m,
      |       CAST(FLOOR(MAX(dist)) AS BIGINT) AS max_m
      |FROM d WHERE dist <= 200000.0""".stripMargin) { (s, dir) =>
    val work = graft.Scratch.dir("graft_circle")
    try {
      Tables.events(s, dir)
        .select(col("event_id"),
          expr("((user_id % 90) + (event_id % 25) * CAST(0.0003 AS DOUBLE))")
            .as("latitude"),
          expr("(((user_id % 180) - 90) + (event_id % 23) * CAST(0.0003 AS DOUBLE))")
            .as("longitude"))
        .write.parquet(work + "/pts")
      s.read.parquet(work + "/pts").createOrReplaceTempView("graft_circle_pts")
      val out = s.sql(
        """SELECT COUNT(*) AS cnt,
          |  CAST(FLOOR(MIN(haversine_m(latitude, longitude, 45.0, -45.0)))
          |    AS BIGINT) AS min_m,
          |  CAST(FLOOR(MAX(haversine_m(latitude, longitude, 45.0, -45.0)))
          |    AS BIGINT) AS max_m
          |FROM graft_circle_pts
          |WHERE haversine_m(latitude, longitude, 45.0, -45.0) <= 200000.0"""
          .stripMargin)
      // 1 row: materialize so the scratch dir can be deleted eagerly
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(); ()
      }
      rm(new java.io.File(work))
    }
  }

  /** O25 — Pareto front (skyline) per brand: the multi-objective
    * shortlist operator (minimize price, maximize size; Börzsönyi et al.
    * 2001). The oracle proves it with the O(n²) NOT-EXISTS definition;
    * the Spark plan is the O(n log n) windowed form — a point is
    * dominated iff some strictly-cheaper point has size ≥ its own
    * (running max over a RANGE frame ending 1 before) or an equal-price
    * point has strictly larger size (max over the price peer group).
    * Scale: both windows partition by brand, so the work is
    * embarrassingly parallel across brands with one hash shuffle and no
    * self-join; at 100 TB the n² oracle shape is impossible but this
    * plan is a sort within partitions. */
  val o25ParetoFront: Reg = Reg.sql(
    "o25_pareto_front",
    """WITH p AS (SELECT p_brand AS brand,
      |  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_c,
      |  CAST(p_size AS BIGINT) AS sz FROM part)
      |SELECT brand, price_c, sz, COUNT(*) AS n_parts
      |FROM p a WHERE NOT EXISTS (
      |  SELECT 1 FROM p b WHERE b.brand = a.brand AND b.price_c <= a.price_c
      |    AND b.sz >= a.sz AND (b.price_c < a.price_c OR b.sz > a.sz))
      |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val p = Tables.part(s, dir).select(col("p_brand").as("brand"),
      expr("CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .as("price_c"),
      col("p_size").cast("long").as("sz"))
    val wStrict = Window.partitionBy("brand").orderBy("price_c")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wSame = Window.partitionBy("brand", "price_c")
    p.withColumn("m_strict", max("sz").over(wStrict))
      .withColumn("m_same", max("sz").over(wSame))
      .where(coalesce(col("m_strict"), lit(Long.MinValue)) < col("sz") &&
        col("m_same") <= col("sz"))
      .groupBy("brand", "price_c", "sz")
      .agg(count(lit(1)).as("n_parts"))
      .orderBy("brand", "price_c", "sz")
  }

  /** O26 — Count-Min sketch (Cormode & Muthukrishnan 2005): d=4 hash
    * rows × w=4096 buckets, hashes derived from md5 so both engines
    * compute identical sketches. Estimates (min over rows) are compared
    * against exact counts for every key with true count ≥ 8 — the CM
    * guarantee est ≥ true holds by construction. Scale: the sketch is a
    * fixed 16k-row frame regardless of input size (THE point of a
    * sketch), built by one groupBy and broadcast to the probe side; at
    * 100 TB the exact `truth` frame is what you cannot afford, and the
    * sketch is what you ship. */
  val o26CountMin: Reg = {
    def bucket(col0: String, j: String) =
      s"CAST(conv(substring(md5(concat($col0, ':', CAST($j AS STRING))), 1, 3), 16, 10) AS BIGINT)"
    Reg.sql(
      "o26_count_min",
      """WITH k AS (SELECT CAST(o_custkey AS VARCHAR) AS key FROM orders),
        |kj AS (SELECT key, UNNEST([0, 1, 2, 3]) AS j FROM k),
        |kb AS (SELECT key, j,
        |  (strpos('0123456789abcdef',
        |     substr(md5(key || ':' || CAST(j AS VARCHAR)), 1, 1)) - 1) * 256 +
        |  (strpos('0123456789abcdef',
        |     substr(md5(key || ':' || CAST(j AS VARCHAR)), 2, 1)) - 1) * 16 +
        |  (strpos('0123456789abcdef',
        |     substr(md5(key || ':' || CAST(j AS VARCHAR)), 3, 1)) - 1) AS b
        |  FROM kj),
        |sketch AS (SELECT j, b, COUNT(*) AS cnt FROM kb GROUP BY 1, 2),
        |truth AS (SELECT key, COUNT(*) AS true_cnt FROM k GROUP BY 1),
        |probes AS (SELECT key, true_cnt FROM truth WHERE true_cnt >= 8),
        |pj AS (SELECT key, true_cnt, UNNEST([0, 1, 2, 3]) AS j FROM probes),
        |pb AS (SELECT key, true_cnt, j,
        |  (strpos('0123456789abcdef',
        |     substr(md5(key || ':' || CAST(j AS VARCHAR)), 1, 1)) - 1) * 256 +
        |  (strpos('0123456789abcdef',
        |     substr(md5(key || ':' || CAST(j AS VARCHAR)), 2, 1)) - 1) * 16 +
        |  (strpos('0123456789abcdef',
        |     substr(md5(key || ':' || CAST(j AS VARCHAR)), 3, 1)) - 1) AS b
        |  FROM pj)
        |SELECT CAST(pb.key AS BIGINT) AS custkey, pb.true_cnt,
        |       MIN(sketch.cnt) AS cm_est
        |FROM pb JOIN sketch ON sketch.j = pb.j AND sketch.b = pb.b
        |GROUP BY 1, 2 ORDER BY custkey""".stripMargin) { (s, dir) =>
      val keys = Tables.orders(s, dir)
        .select(col("o_custkey").cast("string").as("key"))
      val kb = keys.select(col("key"), explode(expr("sequence(0, 3)")).as("j"))
        .withColumn("b", expr(bucket("key", "j")))
      val sketch = kb.groupBy("j", "b").agg(count(lit(1)).as("cnt"))
      val probes = keys.groupBy("key").agg(count(lit(1)).as("true_cnt"))
        .where(col("true_cnt") >= 8)
      val pb = probes
        .select(col("key"), col("true_cnt"), explode(expr("sequence(0, 3)")).as("j"))
        .withColumn("b", expr(bucket("key", "j")))
      // the sketch is fixed-size (d·w rows) — broadcast; probes are
      // key-cardinality and must NOT be broadcast
      pb.join(broadcast(sketch), Seq("j", "b"))
        .groupBy("key", "true_cnt").agg(min("cnt").as("cm_est"))
        .select(col("key").cast("long").as("custkey"), col("true_cnt"),
          col("cm_est"))
        .orderBy("custkey")
    }
  }

  /** Exact global order statistics WITHOUT a global sort
    * ([[graft.operators.ExactQuantile]]): the median and p90 of the whole
    * fact table found by descending a bucket histogram — one aggregate
    * pass per level over a geometrically shrinking slice, the bucket
    * frame driver-bounded by construction (≤ fanout rows), a final
    * TakeOrdered only on the collapsed residue. The scale story Spark's
    * own exact `percentile` (value-buffer state) and ORDER-BY ranking
    * (full shuffle) cannot tell at 100 TB. Values floor to whole dollars
    * so both engines rank the identical integer multiset; the oracle is
    * the naive full-sort ROW_NUMBER definition, so the gate proves the
    * histogram descent lands on exactly the right element, ties and all. */
  val o31ExactMedian: Reg = Reg.sql(
    "o31_exact_median",
    """WITH v AS (SELECT CAST(FLOOR(l_extendedprice) AS BIGINT) AS v
      |           FROM lineitem),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
      |km AS (SELECT n, (n + 1) // 2 AS k, (9 * n + 9) // 10 AS k90 FROM n),
      |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v)
      |SELECT km.n, km.k AS median_rank,
      |       (SELECT r.v FROM r, km WHERE r.rn = km.k) AS median,
      |       (SELECT r.v FROM r, km WHERE r.rn = km.k90) AS p90
      |FROM km""".stripMargin) { (s, dir) =>
    import s.implicits._
    val base = Tables.lineitem(s, dir)
      .select(expr("CAST(FLOOR(l_extendedprice) AS BIGINT)").as("v"))
    // median + p90 out of ONE shared descent; the ranks derive from the
    // descent's own initial aggregate, so no separate count scan
    val (n, Seq(med, p90)) = graft.operators.ExactQuantile
      .valueAtRanksOf(base, "v", n => Seq((n + 1) / 2, (9 * n + 9) / 10))
    val k = (n + 1) / 2
    Seq((n, k, med, p90)).toDF("n", "median_rank", "median", "p90")
  }

  /** Exact order statistics over a raw DOUBLE column — the histogram
    * descent riding the order-preserving IEEE-754 bit map
    * ([[graft.plans.DoubleOrderBitsExpression]]): descend on mapped longs,
    * reverse-map the found element. Median and p95 come out of ONE shared
    * multi-rank descent (one aggregate pass per level total). The oracle is
    * the naive full-sort ROW_NUMBER definition over the same doubles; both
    * engines return the identical stored parquet element (pure selection,
    * no arithmetic), so the values hash bit-identically. */
  val o32ExactMedianDouble: Reg = Reg.sql(
    "o32_exact_median_double",
    """WITH v AS (SELECT l_extendedprice AS v FROM lineitem
      |           WHERE l_extendedprice IS NOT NULL),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
      |km AS (SELECT n, (n + 1) // 2 AS k50, (19 * n + 19) // 20 AS k95 FROM n),
      |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v)
      |SELECT km.n,
      |       (SELECT r.v FROM r, km WHERE r.rn = km.k50) AS median,
      |       (SELECT r.v FROM r, km WHERE r.rn = km.k95) AS p95
      |FROM km""".stripMargin) { (s, dir) =>
    import s.implicits._
    val base = Tables.lineitem(s, dir).select(col("l_extendedprice").as("v"))
    // ranks derive from the descent's own initial aggregate (no count scan)
    val (n, Seq(med, p95)) = graft.operators.ExactQuantile
      .valueAtRanksDoubleOf(base, "v",
        n => Seq((n + 1) / 2, (19 * n + 19) / 20))
    Seq((n, med, p95)).toDF("n", "median", "p95")
  }

  /** Exact PER-GROUP median over a raw DOUBLE column with NO per-group
    * value buffering anywhere — [[graft.operators.GroupedQuantile]]'s
    * fully-distributed histogram descent (group state is itself a
    * DataFrame; each level is one join + one (keys, bucket) aggregate +
    * a window over ≤ fanout histogram rows), riding the IEEE-754 order
    * bit map for doubles. Registered with the production descent
    * constants (fanout 4096 / directLimit 65536 — sf-scale groups finish
    * in the residue sort); the forced deep-descent exercise lives in
    * GroupedQuantileSpec, not here. The oracle is the naive per-group
    * ROW_NUMBER selection; both engines return the stored parquet
    * element, so values hash bit-identically. */
  val o33GroupMedian: Reg = Reg.sql(
    "o33_group_median",
    """WITH v AS (SELECT l_suppkey, l_extendedprice AS v FROM lineitem
      |           WHERE l_extendedprice IS NOT NULL),
      |n AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n FROM v
      |      GROUP BY l_suppkey),
      |r AS (SELECT l_suppkey, v,
      |        ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY v) AS rn
      |      FROM v)
      |SELECT r.l_suppkey, r.v AS median
      |FROM r JOIN n USING (l_suppkey)
      |WHERE r.rn = (n.n + 1) // 2
      |ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
    graft.operators.GroupedQuantile.valueAtRankByDouble(
      Tables.lineitem(s, dir), Seq("l_suppkey"), "l_extendedprice",
      graft.operators.GroupedQuantile.medianRank, "median")
      .orderBy("l_suppkey")
  }

  /** Median AND p95 per group out of ONE lock-step descent
    * ([[graft.operators.GroupedQuantile.valueAtRanksByDouble]]): the rank
    * slot joins the grouping key, so both statistics share every level's
    * single (keys, slot, bucket) aggregate instead of paying one descent
    * per statistic. Oracle: per-group ROW_NUMBER selection of both ranks
    * in one pass; both engines return stored parquet elements, so the
    * hash is bit-exact. */
  val o34GroupQuantiles: Reg = Reg.sql(
    "o34_group_quantiles",
    """WITH v AS (SELECT l_suppkey, l_extendedprice AS v FROM lineitem
      |           WHERE l_extendedprice IS NOT NULL),
      |n AS (SELECT l_suppkey, CAST(COUNT(*) AS BIGINT) AS n FROM v
      |      GROUP BY l_suppkey),
      |r AS (SELECT l_suppkey, v,
      |        ROW_NUMBER() OVER (PARTITION BY l_suppkey ORDER BY v) AS rn
      |      FROM v)
      |SELECT r.l_suppkey,
      |  MAX(CASE WHEN rn = (n.n + 1) // 2 THEN v END) AS median,
      |  MAX(CASE WHEN rn = (19 * n.n + 19) // 20 THEN v END) AS p95
      |FROM r JOIN n USING (l_suppkey)
      |GROUP BY r.l_suppkey ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
    import graft.operators.GroupedQuantile
    val p95Rank: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      n => floor((n * lit(19L) + lit(19L)) / lit(20L)).cast("long")
    GroupedQuantile.valueAtRanksByDouble(
      Tables.lineitem(s, dir), Seq("l_suppkey"), "l_extendedprice",
      Seq(GroupedQuantile.medianRank, p95Rank), "q")
      .groupBy("l_suppkey")
      .agg(
        max(when(col("rank_slot") === 0, col("q"))).as("median"),
        max(when(col("rank_slot") === 1, col("q"))).as("p95"))
      .orderBy("l_suppkey")
  }

  /** Exact per-group MODE with deterministic tie-breaks and no value
    * buffering: two aggregates — (key, value) counts, then an argmax per
    * key as max-of-struct under the (cnt DESC, value ASC) total order
    * (value negated inside the struct so the SQL tie goes to the SMALLEST
    * value). Both shuffles key-partitioned; state per group is one
    * struct. Spark's own `mode()` breaks ties arbitrarily — hash-gates
    * need the total order. */
  val o35GroupMode: Reg = Reg.sql(
    "o35_group_mode",
    """WITH c AS (SELECT l_suppkey, CAST(l_quantity AS BIGINT) AS v,
      |             COUNT(*) AS cnt
      |           FROM lineitem GROUP BY 1, 2),
      |r AS (SELECT l_suppkey, v, cnt,
      |        ROW_NUMBER() OVER (PARTITION BY l_suppkey
      |                           ORDER BY cnt DESC, v ASC) AS rn
      |      FROM c)
      |SELECT l_suppkey, v AS mode_qty, CAST(cnt AS BIGINT) AS mode_cnt
      |FROM r WHERE rn = 1 ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
    Tables.lineitem(s, dir)
      .select(col("l_suppkey"), col("l_quantity").cast("bigint").as("v"))
      .groupBy("l_suppkey", "v").agg(count(lit(1)).as("cnt"))
      .groupBy("l_suppkey")
      .agg(max(struct(col("cnt"), (-col("v")).as("nv"))).as("best"))
      .select(col("l_suppkey"), (-col("best.nv")).as("mode_qty"),
        col("best.cnt").as("mode_cnt"))
      .orderBy("l_suppkey")
  }

  /** Exact per-group WEIGHTED median — the robust-aggregation primitive
    * (a weighted MAD/median is how sensor fusion downweights flaky
    * sources): collapse to (key, value) weight sums first (both engines,
    * so the walk is over DISTINCT values), then one per-key cumulative
    * window picks the least value whose running weight reaches
    * (W+1) DIV 2. Integer weights end-to-end — exact, order-free. The
    * window runs over per-key DISTINCT values, not rows: a billion
    * observations of a bounded quantity domain walk a tiny frame. */
  val o36WeightedMedian: Reg = Reg.sql(
    "o36_weighted_median",
    """WITH c AS (SELECT l_suppkey,
      |             CAST(FLOOR(l_extendedprice) AS BIGINT) AS v,
      |             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |           FROM lineitem GROUP BY 1, 2),
      |t AS (SELECT l_suppkey, CAST(SUM(w) AS BIGINT) AS tw FROM c GROUP BY 1),
      |m AS (SELECT c.l_suppkey, c.v, t.tw,
      |        SUM(c.w) OVER (PARTITION BY c.l_suppkey ORDER BY c.v
      |                       ROWS BETWEEN UNBOUNDED PRECEDING
      |                       AND CURRENT ROW) AS cum
      |      FROM c JOIN t USING (l_suppkey))
      |SELECT l_suppkey, tw AS total_weight, MIN(v) AS weighted_median
      |FROM m WHERE cum >= (tw + 1) // 2
      |GROUP BY l_suppkey, tw ORDER BY l_suppkey""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val c = Tables.lineitem(s, dir)
      // the oracle's inner JOIN USING (l_suppkey) drops NULL keys; the
      // window form must state that filter explicitly
      .where(col("l_suppkey").isNotNull)
      .select(col("l_suppkey"),
        floor(col("l_extendedprice")).cast("bigint").as("v"),
        col("l_quantity").cast("bigint").as("w"))
      .groupBy("l_suppkey", "v").agg(sum("w").cast("bigint").as("w"))
    // tw = SUM(w) OVER (PARTITION BY key): the same exact integer total as
    // the oracle's GROUP BY t — computed on the cumulative window's own
    // exchange+sort, so the (key, v) aggregate runs ONCE (the join form
    // re-derived it as a second scan+aggregate subtree)
    val wAll = Window.partitionBy("l_suppkey")
    val wCum = Window.partitionBy("l_suppkey").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    c.withColumn("tw", sum("w").over(wAll).cast("bigint"))
      .withColumn("cum", sum("w").over(wCum))
      .where(col("cum") >= expr("(tw + 1) DIV 2"))
      .groupBy(col("l_suppkey"), col("tw").as("total_weight"))
      .agg(min("v").as("weighted_median"))
      .orderBy("l_suppkey")
  }

  /** O37 — EXACT sliding-window distinct count (trailing 7 days of
    * distinct users per key, evaluated at every active day) — the metric
    * warehouses fake with HLL because the naive exact form needs a
    * distinct-set per window. The scalable exact rendering never builds a
    * set: each sighting contributes a presence interval [d, d+6]; per
    * (key, user) overlapping intervals merge into islands (the o20
    * union walk — one keyed window); each island emits +1 at its start
    * and −1 past its end; and ONE prefix sum per key over the merged
    * (delta ∪ probe) day sequence reads the exact distinct count at every
    * probe day (deltas sort before probes at the same day, so a sighting
    * at day t counts toward t's own window). Per-key work is
    * O(sightings); no day × user expansion, no per-window state. The
    * oracle is the naive correlated COUNT(DISTINCT) range join — proving
    * the island/prefix decomposition exact. */
  val o37SlidingDistinct: Reg = Reg.sql(
    "o37_sliding_distinct",
    """WITH s AS (
      |  SELECT DISTINCT event_type AS k,
      |         CAST(ts AS DATE) - DATE '1970-01-01' AS d, user_id AS u
      |  FROM events WHERE event_type IS NOT NULL),
      |probes AS (SELECT DISTINCT k, d AS t FROM s)
      |SELECT p.k, CAST(p.t AS BIGINT) AS t,
      |       CAST(COUNT(DISTINCT s.u) AS BIGINT) AS active_users_7d
      |FROM probes p JOIN s ON s.k = p.k AND s.d BETWEEN p.t - 6 AND p.t
      |GROUP BY p.k, p.t ORDER BY p.k, t""".stripMargin) { (s, dir) =>
    val sight = Tables.events(s, dir)
      .where(col("event_type").isNotNull)
      .select(col("event_type").as("k"),
        datediff(col("ts").cast("date"), lit("1970-01-01").cast("date"))
          .cast("long").as("d"),
        col("user_id").as("u"))
    graft.operators.SlidingDistinct.exact(sight, windowDays = 7)
      .select(col("k"), col("t"), col("cnt").as("active_users_7d"))
      .orderBy("k", "t")
  }

  /** C9 — GEOFENCE containment: point-in-polygon by exact integer ray
    * casting ([[graft.functions.Geo.pointInPolygon]]) — the "is this
    * AP/measurement inside the campus / market boundary?" predicate the
    * reference's hotspot and relocation analyses would gate on. The
    * polygon is NON-CONVEX (a notch vertex), coordinates are an integer
    * micro-degree lattice, and every crossing test is cross-multiplied
    * BIGINT arithmetic (no division, no float), so DuckDB restates the
    * identical algebra edge by edge. One scan + one 8-group aggregate; the
    * polygon is a constant folded into the row expression — at 100 TB this
    * runs fused with the scan inside whole-stage codegen. */
  val c9PointInPolygon: Reg = Reg.sql(
    "c9_point_in_polygon",
    """WITH p AS (
      |  SELECT event_id,
      |         (((event_id * 13) % 2000) - 1000) * 1000 + (user_id % 997) AS px,
      |         (((event_id * 7) % 2000) - 1000) * 1000 + (user_id % 991) AS py
      |  FROM events),
      |e(x1, y1, x2, y2) AS (VALUES
      |  (-800000, -600000, 900000, -700000),
      |  (900000, -700000, 700000, 200000),
      |  (700000, 200000, 100000, -100000),
      |  (100000, -100000, 300000, 800000),
      |  (300000, 800000, -600000, 500000),
      |  (-600000, 500000, -800000, -600000)),
      |c AS (
      |  SELECT p.event_id, p.px, p.py,
      |         SUM(CASE WHEN ((y1 > py) <> (y2 > py)) AND
      |                  (CASE WHEN y2 - y1 > 0
      |                        THEN (px - x1) * (y2 - y1) < (x2 - x1) * (py - y1)
      |                        ELSE (px - x1) * (y2 - y1) > (x2 - x1) * (py - y1)
      |                   END)
      |                  THEN 1 ELSE 0 END) AS k
      |  FROM p, e GROUP BY p.event_id, p.px, p.py)
      |SELECT (k % 2 = 1) AS inside, px < 0 AS west, py < 0 AS south,
      |       CAST(COUNT(*) AS BIGINT) AS n
      |FROM c GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin) { (s, dir) =>
    val verts = Seq(
      (-800000L, -600000L), (900000L, -700000L), (700000L, 200000L),
      (100000L, -100000L), (300000L, 800000L), (-600000L, 500000L))
    Tables.events(s, dir)
      .select(
        ((((col("event_id") * 13) % 2000) - 1000) * 1000 + (col("user_id") % 997))
          .as("px"),
        ((((col("event_id") * 7) % 2000) - 1000) * 1000 + (col("user_id") % 991))
          .as("py"))
      .select(
        graft.functions.Geo.pointInPolygon(col("px"), col("py"), verts)
          .as("inside"),
        (col("px") < 0).as("west"), (col("py") < 0).as("south"))
      .groupBy("inside", "west", "south")
      .agg(count(lit(1)).as("n"))
      .orderBy("inside", "west", "south")
  }

  /** C10 — exact polygon AREA on the integer lattice: each user's first 8
    * event-derived lattice points (event order) form a closed ring, and
    * the SHOELACE sum over its edges gives |2A| — an exact BIGINT for
    * lattice vertices, no float, orientation-independent, well-defined
    * (as the signed self-intersection area) even for arbitrary rings. The
    * region-size normalizer next to c9's containment gate. Shape: one
    * keyed window (rank + wrap-around lead share the partition sort), one
    * keyed aggregate — parallel across polygons at any count. */
  val c10PolygonArea: Reg = Reg.sql(
    "c10_polygon_area",
    """WITH p AS (
      |  SELECT user_id, event_id,
      |         (((event_id * 13) % 2000) - 1000) * 1000 + (user_id % 997) AS px,
      |         (((event_id * 7) % 2000) - 1000) * 1000 + (user_id % 991) AS py
      |  FROM events),
      |r AS (SELECT *, ROW_NUMBER() OVER
      |        (PARTITION BY user_id ORDER BY event_id) AS rn FROM p),
      |v AS (SELECT user_id, rn, px, py FROM r WHERE rn <= 8),
      |e AS (SELECT user_id, px, py,
      |        COALESCE(LEAD(px) OVER w, FIRST_VALUE(px) OVER w) AS nx,
      |        COALESCE(LEAD(py) OVER w, FIRST_VALUE(py) OVER w) AS ny
      |      FROM v WINDOW w AS (PARTITION BY user_id ORDER BY rn))
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_vertices,
      |       CAST(ABS(SUM(px * ny - nx * py)) AS BIGINT) AS area2
      |FROM e GROUP BY user_id HAVING COUNT(*) >= 3
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val p = Tables.events(s, dir).select(
      col("user_id"), col("event_id"),
      ((((col("event_id") * 13) % 2000) - 1000) * 1000 + (col("user_id") % 997))
        .as("px"),
      ((((col("event_id") * 7) % 2000) - 1000) * 1000 + (col("user_id") % 991))
        .as("py"))
    val wRank = Window.partitionBy("user_id").orderBy("event_id")
    val v = p.withColumn("rn", row_number().over(wRank)).where(col("rn") <= 8)
    val wRing = Window.partitionBy("user_id").orderBy("rn")
    val wAll = wRing.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    v.withColumn("nx",
        coalesce(lead("px", 1).over(wRing), first("px").over(wAll)))
      .withColumn("ny",
        coalesce(lead("py", 1).over(wRing), first("py").over(wAll)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_vertices"),
        abs(sum(graft.functions.Geo.shoelaceTerm(
          col("px"), col("py"), col("nx"), col("ny")))).as("area2"))
      .where(col("n_vertices") >= 3)
      .orderBy("user_id")
  }

  /** A33 — join-key SKEW REPORT: the pre-flight diagnostic a 100 TB
    * pipeline runs BEFORE committing to a join strategy (salting, AQE skew
    * thresholds, broadcast cutoffs — j8SaltedJoin is the cure; this is the
    * diagnosis). One shuffle builds the per-key histogram with map-side
    * combine; every statistic after that runs on key-count-sized or
    * histogram-of-histogram-sized frames:
    *
    *  - the top-10 heavy keys via TakeOrderedAndProject (never a full sort);
    *  - exact count percentiles (p50/p90/p99 over KEYS by per-key row
    *    count) from a cumulative walk over the count-of-counts histogram —
    *    the single-partition window is over distinct COUNT VALUES, a frame
    *    that grows with log-ish cardinality, not keys;
    *  - all shares in exact integer micro units ((x * 1e6) div total), no
    *    float exposure.
    *
    * Percentile rank is ceil(n_keys · p/100) computed as
    * (n_keys · p + 99) div 100 — identical integer arithmetic in both
    * engines. */
  val a33SkewReport: Reg = Reg.sql(
    "a33_skew_report",
    """WITH c AS (SELECT l_partkey AS skew_key, CAST(COUNT(*) AS BIGINT) AS cnt
      |           FROM lineitem GROUP BY l_partkey),
      |s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
      |             CAST(SUM(cnt) AS BIGINT) AS n_rows,
      |             CAST(MAX(cnt) AS BIGINT) AS max_cnt FROM c),
      |h AS (SELECT cnt, CAST(COUNT(*) AS BIGINT) AS keys_at FROM c GROUP BY cnt),
      |cum AS (SELECT cnt, SUM(keys_at) OVER (ORDER BY cnt) AS ck FROM h),
      |p AS (SELECT
      |        MIN(CASE WHEN ck >= (n_keys * 50 + 99) // 100 THEN cnt END) AS p50_cnt,
      |        MIN(CASE WHEN ck >= (n_keys * 90 + 99) // 100 THEN cnt END) AS p90_cnt,
      |        MIN(CASE WHEN ck >= (n_keys * 99 + 99) // 100 THEN cnt END) AS p99_cnt
      |      FROM cum, s),
      |top AS (SELECT skew_key, cnt,
      |               ROW_NUMBER() OVER (ORDER BY cnt DESC, skew_key) AS rnk
      |        FROM c QUALIFY rnk <= 10)
      |SELECT t.skew_key, t.cnt, CAST(t.rnk AS BIGINT) AS rnk,
      |       (t.cnt * 1000000) // n_rows AS share_micro,
      |       n_rows, n_keys, max_cnt, p50_cnt, p90_cnt, p99_cnt
      |FROM top t, s, p ORDER BY rnk""".stripMargin) { (s, dir) =>
    val c = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("skew_key"))
      .agg(count(lit(1)).as("cnt"))
    val stats = c.agg(count(lit(1)).as("n_keys"), sum("cnt").as("n_rows"),
      max("cnt").as("max_cnt"))
    val h = c.groupBy("cnt").agg(count(lit(1)).as("keys_at"))
    val wc = Window.orderBy("cnt")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = h.withColumn("ck", sum("keys_at").over(wc))
    val p = cum.crossJoin(stats).agg( // stats: 1-row frame, broadcast
      min(when(col("ck") >= expr("(n_keys * 50 + 99) div 100"), col("cnt")))
        .as("p50_cnt"),
      min(when(col("ck") >= expr("(n_keys * 90 + 99) div 100"), col("cnt")))
        .as("p90_cnt"),
      min(when(col("ck") >= expr("(n_keys * 99 + 99) div 100"), col("cnt")))
        .as("p99_cnt"))
    val top = c.orderBy(col("cnt").desc, col("skew_key")).limit(10)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("skew_key"))).cast("bigint"))
    top.crossJoin(stats).crossJoin(p) // both 1-row frames
      .select(col("skew_key"), col("cnt"), col("rnk"),
        expr("(cnt * 1000000) div n_rows").as("share_micro"),
        col("n_rows"), col("n_keys"), col("max_cnt"),
        col("p50_cnt"), col("p90_cnt"), col("p99_cnt"))
      .orderBy("rnk")
  }

  /** O38 — HIERARCHY SUBTREE ROLLUP via distributed TRANSITIVE CLOSURE
    * (the recursive-query family: org charts, category trees, BOM
    * explosion — the one SQL shape Spark has no native operator for).
    * The parent relation is treated as an OPAQUE edge table (here the
    * deterministic binary tree `parent(u) = u div 2` so the DuckDB
    * recursive CTE can state the oracle) and closed by REPEATED
    * SQUARING: after k rounds the relation holds every ancestor path of
    * length ≤ 2^k, so SIX self-join+distinct rounds cover any hierarchy
    * to depth 64 — log-depth in the longest chain, each round a plain
    * shuffled equi-join, `localCheckpoint` cutting the lineage so plans
    * stay flat. Events then roll up per ancestor through one join +
    * aggregate.
    *
    * Scale: the naive alternative (iterate depth times) is O(depth)
    * sequential shuffles; squaring is O(log depth). Closure size is
    * nodes × avg-depth pairs — for the 100 TB case, cap depth or use
    * the closed form when the parent function is arithmetic. */
  val o38HierarchyRollup: Reg = Reg.sql(
    "o38_hierarchy_rollup",
    """WITH e AS (SELECT event_id, user_id FROM events
      |           WHERE user_id >= 1 AND event_id < 60000),
      |users AS (SELECT DISTINCT user_id AS u FROM e),
      |anc AS (
      |  WITH RECURSIVE chain AS (
      |    SELECT u AS node, u AS anc FROM users
      |    UNION ALL
      |    SELECT node, anc // 2 FROM chain WHERE anc > 1
      |  ) SELECT node, anc FROM chain
      |)
      |SELECT CAST(a.anc AS BIGINT) AS node,
      |       CAST(COUNT(DISTINCT a.node) AS BIGINT) AS subtree_users,
      |       CAST(COUNT(*) AS BIGINT) AS subtree_events,
      |       CAST(SUM(e.event_id) AS BIGINT) AS subtree_eid_sum
      |FROM e JOIN anc a ON e.user_id = a.node
      |GROUP BY a.anc ORDER BY node""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
      .where(col("user_id") >= 1L && col("event_id") < 60000L)
      .select("event_id", "user_id")
    val users = e.select(col("user_id").as("u")).distinct()
    // level-1 edges: the opaque parent relation (node -> parent)
    val edges = users.select(col("u").as("node"),
      expr("u div 2").as("anc")).where(col("anc") >= 1L)
    // transitive closure by repeated squaring: 6 rounds reach depth 64
    var closure = edges.localCheckpoint()
    (1 to 6).foreach { _ =>
      val next = closure.as("a")
        .join(closure.as("b"), col("a.anc") === col("b.node"))
        .select(col("a.node").as("node"), col("b.anc").as("anc"))
      closure = closure.unionByName(next).distinct().localCheckpoint()
    }
    // ancestor-or-self pairs, then one join + rollup
    val pairs = closure.unionByName(
      users.select(col("u").as("node"), col("u").as("anc")))
    e.join(pairs, e("user_id") === pairs("node"))
      .groupBy(col("anc").as("node"))
      .agg(
        countDistinct("node").as("subtree_users"),
        count(lit(1)).as("subtree_events"),
        sum("event_id").cast("bigint").as("subtree_eid_sum"))
      .orderBy("node")
  }

  /** O39 — GROUPED LINEAR REGRESSION, closed form (the per-AP path-loss
    * fit the reference's log-distance calibration implies, generalized):
    * OLS over each group is ONE aggregate — n, Σx, Σy, Σxy, Σx² — all
    * map-side-combinable, so the whole fit is a single shuffle at any
    * scale; slope and intercept come out of the normal equations with NO
    * iteration. Stated on the exact integer lattice (x, y < 100 keeps
    * every product inside BIGINT): the oracle and the engine emit the
    * IDENTICAL numerators/denominator, slope = slope_num/den,
    * intercept = icept_num/den — no float division to drift.
    *
    * Scale: this is the pattern every "fit millions of tiny models"
    * job should compile to — a groupBy.agg, never a per-group solver
    * loop; 100 TB of measurements fit one model per key in one pass. */
  val o39GroupOls: Reg = Reg.sql(
    "o39_group_ols",
    """WITH e AS (SELECT event_type, event_id % 100 AS x, user_id % 100 AS y
      |           FROM events WHERE event_id < 60000),
      |m AS (SELECT event_type, COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
      |             SUM(x*y) AS sxy, SUM(x*x) AS sxx
      |      FROM e GROUP BY event_type)
      |SELECT event_type,
      |       CAST(n AS BIGINT) AS n,
      |       CAST(n * sxy - sx * sy AS BIGINT) AS slope_num,
      |       CAST(n * sxx - sx * sx AS BIGINT) AS den,
      |       CAST(sy * sxx - sx * sxy AS BIGINT) AS icept_num
      |FROM m ORDER BY event_type""".stripMargin) { (s, dir) =>
    Tables.events(s, dir).where(col("event_id") < 60000L)
      .select(col("event_type"),
        (col("event_id") % 100).as("x"), (col("user_id") % 100).as("y"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("event_type"),
        col("n").cast("bigint").as("n"),
        (col("n") * col("sxy") - col("sx") * col("sy"))
          .cast("bigint").as("slope_num"),
        (col("n") * col("sxx") - col("sx") * col("sx"))
          .cast("bigint").as("den"),
        (col("sy") * col("sxx") - col("sx") * col("sxy"))
          .cast("bigint").as("icept_num"))
      .orderBy("event_type")
  }

  /** J17 — temporal INTERVAL ALIGNMENT (the SQL:2011 / temporal-database
    * primitive behind temporal aggregation and bitemporal joins, which
    * Spark has no operator for): two interval tables per key decompose
    * into the MAXIMAL sub-intervals on which coverage is constant —
    * boundaries are the union of all endpoints per key, adjacent
    * boundary pairs form the aligned sub-intervals (one per-key window
    * LEAD), and each side's coverage count attaches with an equi-join on
    * the key plus a containment residual. No interval ever splits
    * against another interval directly (the O(n²) trap); everything is
    * per-key and the keys partition uniformly.
    *
    * Scale: boundary count is 2(|L|+|R|) rows, the window is per-key,
    * and the coverage joins are key-equi with bounded per-key fan-out —
    * the alignment of two 100 TB interval tables shuffles each ONCE. */
  val j17IntervalAlign: Reg = Reg.sql(
    "j17_interval_align",
    """WITH L AS (SELECT o_custkey % 50 AS k, o_orderkey % 100 AS s,
      |                  o_orderkey % 100 + 1 + o_orderkey % 20 AS e
      |           FROM orders WHERE o_orderkey < 2000),
      |R AS (SELECT o_custkey % 50 AS k, o_orderkey % 100 AS s,
      |             o_orderkey % 100 + 1 + o_orderkey % 20 AS e
      |      FROM orders WHERE o_orderkey >= 2000 AND o_orderkey < 4000),
      |b AS (SELECT k, s AS p FROM L UNION SELECT k, e FROM L
      |      UNION SELECT k, s FROM R UNION SELECT k, e FROM R),
      |iv AS (SELECT k, p AS lo,
      |              LEAD(p) OVER (PARTITION BY k ORDER BY p) AS hi
      |       FROM b),
      |iv2 AS (SELECT k, lo, hi FROM iv WHERE hi IS NOT NULL),
      |cl AS (SELECT i.k, i.lo, i.hi, COUNT(l.s) AS n_left
      |       FROM iv2 i LEFT JOIN L l
      |         ON l.k = i.k AND l.s <= i.lo AND i.hi <= l.e
      |       GROUP BY i.k, i.lo, i.hi),
      |cr AS (SELECT i.k, i.lo, i.hi, COUNT(r.s) AS n_right
      |       FROM iv2 i LEFT JOIN R r
      |         ON r.k = i.k AND r.s <= i.lo AND i.hi <= r.e
      |       GROUP BY i.k, i.lo, i.hi)
      |SELECT CAST(cl.k AS BIGINT) AS k, CAST(cl.lo AS BIGINT) AS lo,
      |       CAST(cl.hi AS BIGINT) AS hi,
      |       CAST(cl.n_left AS BIGINT) AS n_left,
      |       CAST(cr.n_right AS BIGINT) AS n_right
      |FROM cl JOIN cr ON cl.k = cr.k AND cl.lo = cr.lo AND cl.hi = cr.hi
      |WHERE cl.n_left + cr.n_right > 0
      |ORDER BY k, lo""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val o = Tables.orders(s, dir)
    def side(cond: org.apache.spark.sql.Column) = o.where(cond)
      .select((col("o_custkey") % 50).as("k"),
        (col("o_orderkey") % 100).as("s"),
        (col("o_orderkey") % 100 + 1 + col("o_orderkey") % 20).as("e"))
    val l = side(col("o_orderkey") < 2000)
    val r = side(col("o_orderkey") >= 2000 && col("o_orderkey") < 4000)
    val b = l.select(col("k"), col("s").as("p"))
      .unionByName(l.select(col("k"), col("e").as("p")))
      .unionByName(r.select(col("k"), col("s").as("p")))
      .unionByName(r.select(col("k"), col("e").as("p")))
      .distinct()
    val iv = b.withColumn("hi",
      lead("p", 1).over(Window.partitionBy("k").orderBy("p")))
      .where(col("hi").isNotNull)
      .select(col("k"), col("p").as("lo"), col("hi"))
    def cover(side: org.apache.spark.sql.DataFrame, n: String) =
      iv.as("i").join(side.as("x"),
        col("x.k") === col("i.k") &&
          col("x.s") <= col("i.lo") && col("i.hi") <= col("x.e"),
        "left")
        .groupBy(col("i.k").as("k"), col("i.lo").as("lo"),
          col("i.hi").as("hi"))
        .agg(count(col("x.s")).as(n))
    cover(l, "n_left").join(cover(r, "n_right"), Seq("k", "lo", "hi"))
      .where(col("n_left") + col("n_right") > 0)
      .select(col("k").cast("bigint").as("k"),
        col("lo").cast("bigint").as("lo"),
        col("hi").cast("bigint").as("hi"),
        col("n_left").cast("bigint").as("n_left"),
        col("n_right").cast("bigint").as("n_right"))
      .orderBy("k", "lo")
  }

  /** O40 — per-group WINSORIZATION (the standard numeric-cleaning pass
    * before any statistic that outliers can poison): group percentile
    * bounds (p05/p95, a14's FLOOR-cents discipline) broadcast back onto
    * the fact rows, values clip via LEAST/GREATEST on the exact integer
    * cents lattice — counts and the winsorized sum are integer-exact in
    * both engines, no float summation order anywhere. Two passes total:
    * one percentile aggregate (group-sized output, AQE-broadcast from
    * measured size), one clipped re-aggregate. */
  val o40Winsorize: Reg = Reg.sql(
    "o40_winsorize",
    """WITH b AS (SELECT event_type,
      |            CAST(FLOOR(quantile_cont(value, 0.05)*100) AS BIGINT) AS p05c,
      |            CAST(FLOOR(quantile_cont(value, 0.95)*100) AS BIGINT) AS p95c
      |           FROM events GROUP BY event_type),
      |v AS (SELECT e.event_type,
      |             CAST(FLOOR(e.value*100) AS BIGINT) AS cents, b.p05c, b.p95c
      |      FROM events e JOIN b USING (event_type))
      |SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n, p05c, p95c,
      |       CAST(COUNT(*) FILTER (cents < p05c) AS BIGINT) AS n_clip_low,
      |       CAST(COUNT(*) FILTER (cents > p95c) AS BIGINT) AS n_clip_high,
      |       CAST(SUM(LEAST(GREATEST(cents, p05c), p95c)) AS BIGINT)
      |         AS winsorized_cents
      |FROM v GROUP BY event_type, p05c, p95c
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
    val b = e.groupBy("event_type").agg(
      floor(expr("percentile(value, 0.05D)") * 100)
        .cast("bigint").as("p05c"),
      floor(expr("percentile(value, 0.95D)") * 100)
        .cast("bigint").as("p95c"))
    // unhinted: event_type cardinality is data-dependent, so AQE promotes
    // the percentile-bounds join to broadcast from MEASURED size; a
    // hand-placed hint here would be a driver OOM if the domain blew up.
    e.join(b, "event_type")
      .withColumn("cents", floor(col("value") * 100).cast("bigint"))
      .groupBy("event_type", "p05c", "p95c")
      .agg(
        count(lit(1)).as("n"),
        count(when(col("cents") < col("p05c"), 1)).as("n_clip_low"),
        count(when(col("cents") > col("p95c"), 1)).as("n_clip_high"),
        sum(least(greatest(col("cents"), col("p05c")), col("p95c")))
          .cast("bigint").as("winsorized_cents"))
      .select(col("event_type"), col("n").cast("bigint").as("n"),
        col("p05c"), col("p95c"),
        col("n_clip_low").cast("bigint").as("n_clip_low"),
        col("n_clip_high").cast("bigint").as("n_clip_high"),
        col("winsorized_cents"))
      .orderBy("event_type")
  }

  /** O41 — BFS LEVELS by frontier iteration (single-source shortest path
    * in an unweighted graph — the OTHER recursive-query primitive next
    * to o38's closure-by-squaring: squaring materializes ALL ancestor
    * pairs, a frontier walk touches only the reachable wave per round,
    * which is the right shape when you need distances from ONE source,
    * not the whole closure). The graph is data-driven (edges u→u+1 and
    * u→2u over the users present in events); each round is one
    * frontier⋈edges equi-join plus an anti-join against the visited set,
    * `localCheckpoint` keeping plans flat; the loop stops when the
    * frontier drains — ≤ ~25 rounds for this graph's diameter.
    * The DuckDB oracle walks the same graph with a recursive CTE and
    * takes MIN(level) per node. */
  val o41BfsLevels: Reg = Reg.sql(
    "o41_bfs_levels",
    """WITH RECURSIVE users AS (
      |  SELECT DISTINCT user_id AS u FROM events
      |  WHERE user_id >= 1 AND event_id < 60000),
      |edges AS (
      |  SELECT a.u AS src, b.u AS dst FROM users a JOIN users b ON b.u = a.u + 1
      |  UNION ALL
      |  SELECT a.u, b.u FROM users a JOIN users b ON b.u = 2 * a.u),
      |bfs(node, lvl) AS (
      |  SELECT CAST(1 AS BIGINT), 0
      |  UNION
      |  SELECT e.dst, b.lvl + 1 FROM bfs b JOIN edges e ON e.src = b.node
      |  WHERE b.lvl < 40)
      |SELECT CAST(node AS BIGINT) AS node,
      |       CAST(MIN(lvl) AS BIGINT) AS level
      |FROM bfs GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
    val users = Tables.events(s, dir)
      .where(col("user_id") >= 1L && col("event_id") < 60000L)
      .select(col("user_id").as("u")).distinct().localCheckpoint()
    val edges = users.as("a")
      .join(users.as("b"), col("b.u") === col("a.u") + 1)
      .select(col("a.u").as("src"), col("b.u").as("dst"))
      .unionByName(users.as("a")
        .join(users.as("b"), col("b.u") === col("a.u") * 2)
        .select(col("a.u").as("src"), col("b.u").as("dst")))
      .localCheckpoint()
    import s.implicits._
    // Size-probed DRIVER fast path (the IncrementalClusters bounded-
    // collect discipline): a diameter-bounded frontier walk pays ~25
    // rounds of fixed per-round job overhead for seconds of wall clock
    // on a graph whose EDGE LIST fits in one bounded collect — in-memory
    // BFS is microseconds and produces the identical level map. The
    // probe is one incremental CollectLimit job; past the bound the
    // distributed frontier loop below runs unchanged, so a 100 TB graph
    // never lands on the driver.
    val maxDriverEdges =
      if (graft.operators.GraphFastPath.forceDistributed(s)) 0 else 2000000
    val probe = edges.limit(maxDriverEdges + 1).collect()
    if (probe.length <= maxDriverEdges) {
      val adj = probe.map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
      val level = scala.collection.mutable.Map(1L -> 0L)
      var frontier = Seq(1L)
      var lvl = 0L
      while (frontier.nonEmpty && lvl < 40) {
        lvl += 1
        frontier = frontier.flatMap(adj.getOrElse(_, Array.empty[Long]))
          .distinct.filterNot(level.contains)
        frontier.foreach(level(_) = lvl)
      }
      level.toSeq.toDF("node", "level")
        .select(col("node").cast("bigint").as("node"),
          col("level").cast("bigint").as("level"))
        .orderBy("node")
    } else {
      // distributed frontier loop — one lazy-checkpoint-plus-count action
      // per round; visited is the union of the per-level checkpoints (a
      // node enters the tree once), never a recopied frame
      val seed = Seq((1L, 0L)).toDF("node", "level").localCheckpoint()
      var levels = Seq(seed)
      var frontier = seed
      var frontierN = 1L
      var lvl = 0L
      while (frontierN > 0 && lvl < 40) {
        lvl += 1
        val visited = levels.map(_.select("node")).reduce(_.unionByName(_))
        val next = frontier.join(edges, frontier("node") === edges("src"))
          .select(col("dst").as("node")).distinct()
          .join(visited, Seq("node"), "left_anti")
          .withColumn("level", lit(lvl))
          .localCheckpoint(false)
        frontierN = next.count() // materializes the lazy checkpoint
        if (frontierN > 0) levels = levels :+ next
        frontier = next
      }
      levels.reduce(_.unionByName(_))
        .select(col("node").cast("bigint").as("node"),
          col("level").cast("bigint").as("level"))
        .orderBy("node")
    }
  }

  /** O42 — THEIL–SEN robust slope per key (the median-of-pairwise-slopes
    * trend estimator — outlier-immune where OLS (o39) is not, the right
    * tool for drifting sensor baselines and per-user engagement trends).
    * Pairwise work is bounded by construction: each key contributes only
    * its FIRST 64 events (the (ts, event_id) total order — deterministic,
    * both engines), so a key with a million rows costs the same 2,016
    * pairs as one with 64 — the documented-cap discipline of a9's LOF.
    * Round 19: the whole estimator is ONE bounded aggregation
    * ([[graft.analytics.TheilSen]]) — the aggregator keeps the 64
    * earliest rows with map-side partial aggregation (the single
    * exchange carries ≤ 64 rows per key per map partition, never a
    * key's history and never a pair row) and computes the pair loop +
    * stored-element lower median in finish; slopes divide the IEEE
    * double value delta by the exact integer µs delta in the SQL's op
    * order (same-instant pairs excluded in both engines), so every
    * slope is bit-identical and the median is a STORED element — no
    * averaging, no order-dependent float math anywhere. TheilSenSpec
    * pins the kernel bit-exactly to the literal window + pair-join
    * shape the oracle restates. */
  val o42TheilSen: Reg = Reg.sql(
    "o42_theil_sen",
    """WITH e AS (SELECT user_id, epoch_us(ts) AS t, value AS v,
      |             ROW_NUMBER() OVER (PARTITION BY user_id
      |                                ORDER BY ts, event_id) AS rn
      |           FROM events),
      |k AS (SELECT user_id, t, v, rn FROM e WHERE rn <= 64),
      |sl AS (SELECT a.user_id,
      |              (b.v - a.v) / CAST(b.t - a.t AS DOUBLE) AS slope
      |       FROM k a JOIN k b
      |         ON a.user_id = b.user_id AND a.rn < b.rn AND a.t <> b.t),
      |n AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
      |      FROM sl GROUP BY user_id),
      |r AS (SELECT user_id, slope,
      |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY slope) AS rn
      |      FROM sl)
      |SELECT r.user_id, n.n_pairs, r.slope AS sen_slope_per_us
      |FROM r JOIN n USING (user_id)
      |WHERE r.rn = (n.n_pairs + 1) // 2
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    // Round 19: ONE bounded aggregation (first-64 capture + in-place pair
    // loop + stored-element median in the aggregator) replaces the window →
    // self-join → count + rank-window chain — the single exchange carries
    // ≤ 64 rows per (key, map partition); TheilSenSpec pins kernel ≡
    // reference shape bit-exactly. See graft.analytics.TheilSen.
    graft.analytics.TheilSen.perKey(
      Tables.events(s, dir).select("user_id", "ts", "event_id", "value"))
      .orderBy("user_id")
  }

  /** O43 — TIME-WEIGHTED AVERAGE per key (TWAP — the irregular-sampling
    * aggregate behind billing meters, uptime SLAs and market data: a
    * value held for an hour must weigh 3600× one held a second, which
    * plain AVG gets wrong). Each observation holds until the key's next
    * event (one per-key LEAD — key-partitioned window, no global sort);
    * the integral runs ENTIRELY on the exact integer lattice:
    * cents × µs-duration products summed as BIGINT, so no float
    * summation order exists in the plan and the quotient is exact floor
    * division (non-negative both sides). Keys whose events all share one
    * instant have zero span and drop identically in both engines. */
  val o43TimeWeightedAvg: Reg = Reg.sql(
    "o43_time_weighted_avg",
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS t,
      |             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      |           FROM events),
      |d AS (SELECT user_id, cents,
      |        LEAD(t) OVER (PARTITION BY user_id
      |                      ORDER BY t, event_id) - t AS dur
      |      FROM e),
      |g AS (SELECT user_id,
      |        CAST(SUM(dur) AS BIGINT) AS span_us,
      |        CAST(SUM(cents * dur) AS BIGINT) AS cents_us
      |      FROM d WHERE dur IS NOT NULL GROUP BY user_id)
      |SELECT user_id, span_us, cents_us,
      |       CAST(cents_us // span_us AS BIGINT) AS twap_cents
      |FROM g WHERE span_us > 0 ORDER BY user_id""".stripMargin) { (s, dir) =>
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("t"),
        floor(col("value") * 100).cast("bigint").as("cents"))
    e.withColumn("dur",
        lead(col("t"), 1).over(
          Window.partitionBy("user_id").orderBy("t", "event_id")) - col("t"))
      .where(col("dur").isNotNull)
      .groupBy("user_id")
      .agg(sum("dur").cast("bigint").as("span_us"),
        sum(col("cents") * col("dur")).cast("bigint").as("cents_us"))
      .where(col("span_us") > 0)
      // non-negative operands: truncating DIV == DuckDB's floor //
      .withColumn("twap_cents",
        expr("CAST(cents_us DIV span_us AS BIGINT)"))
      .orderBy("user_id")
  }

  /** O44 — EQUI-DEPTH HISTOGRAM (the optimizer-statistics / data-profile
    * primitive a18's equi-WIDTH histogram cannot replace when the
    * distribution is skewed: equal ROW mass per bucket, not equal value
    * span). Bucket edges are the exact order statistics at ranks
    * ⌊k·n/8⌋, found by [[graft.operators.ExactQuantile]]'s distributed
    * bit-histogram descent over the IEEE-754 order map — never a global
    * sort; the oracle IS the naive ROW_NUMBER selection, proving the
    * descent exact. Bucketing is then one scan pass (7 literal
    * comparisons per row) + one 8-group aggregate; per-bucket lo/hi are
    * stored parquet elements, so every output value hashes
    * bit-identically in both engines. */
  val o44EquiDepthHistogram: Reg = Reg.sql(
    "o44_equi_depth_histogram",
    """WITH v AS (SELECT l_extendedprice AS v FROM lineitem
      |           WHERE l_extendedprice IS NOT NULL),
      |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v),
      |r AS (SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v),
      |e AS (SELECT k, (SELECT r.v FROM r, n WHERE r.rn = (k * n.n) // 8)
      |               AS edge
      |      FROM (VALUES (1),(2),(3),(4),(5),(6),(7)) AS t(k)),
      |b AS (SELECT v.v,
      |        (SELECT COUNT(*) FROM e WHERE v.v > e.edge) AS bucket
      |      FROM v)
      |SELECT CAST(bucket AS BIGINT) AS bucket,
      |       CAST(COUNT(*) AS BIGINT) AS cnt,
      |       MIN(v) AS lo, MAX(v) AS hi
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
    val base = Tables.lineitem(s, dir)
      .where(col("l_extendedprice").isNotNull)
      .select(col("l_extendedprice").as("v"))
    // edge ranks derive from the descent's own initial aggregate
    val (_, edges) = graft.operators.ExactQuantile.valueAtRanksDoubleOf(
      base, "v", n => (1L to 7L).map(k => (k * n) / 8))
    val bucket = edges.foldLeft(lit(0)) { (acc, e) =>
      acc + when(col("v") > lit(e), 1).otherwise(0)
    }
    base.withColumn("bucket", bucket.cast("bigint"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast("bigint").as("cnt"),
        min("v").as("lo"), max("v").as("hi"))
      .orderBy("bucket")
  }

  val all: Seq[Reg] = Seq(
    o38HierarchyRollup, o39GroupOls, j17IntervalAlign, o40Winsorize,
    o41BfsLevels, o42TheilSen, o43TimeWeightedAvg, o44EquiDepthHistogram,
    a33SkewReport, c9PointInPolygon, c10PolygonArea, o37SlidingDistinct,
    o31ExactMedian, o32ExactMedianDouble, o33GroupMedian, o34GroupQuantiles,
    o35GroupMode, o36WeightedMedian,
    o25ParetoFront, o26CountMin, o27KmvDistinct, a29Expectations, o28HoltLinear,
    c7GeodesicOps, c8CircleFilter,
    o21RankFamily, a25StatsAgg, o22SetOps, c6SqlSurface, a26GroupingSets,
    o24TopkTies, a27BoolAggs, a28StringAgg, j13AsofForward, j15AsofNearest,
    o16NtileDeciles, o17HllMerge,
    j6AsofJoin, o9Sessionize, a14PercentileBands, a15Cube, o10ApproxDistinct,
    j7BandJoin, o11HeavyHitters, j8SaltedJoin, o12TimeRangeWindow,
    f3VariantShred, o13Unpivot, q5RegionVolume, q9ProductProfit,
    q3ShippingPriority, q18LargeOrders, q7VolumeShipping, q17SmallQuantity,
    q4OrderPriority, q13OrderDistribution, q16SupplierVariety,
    q21BlameSupplier, q22DormantCustomers,
    o15RollingMedian,
    j9BloomPrune, a16TableProfile, o14GapFill, a17ApproxPercentile,
    j10OverlapJoin, a18Histogram)
}
