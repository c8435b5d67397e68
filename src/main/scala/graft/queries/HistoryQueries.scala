package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Round-8 history/temporal operators — the two classic "hard SQL" shapes a
  * warehouse engine is judged on, both pure window algebra (no self-joins,
  * no driver loops), both exact-integer gated:
  *
  *  - A24 SCD2 history folding — collapse a key's event stream into
  *    type-2 slowly-changing-dimension rows: one row per CHANGE of the
  *    tracked attribute, versioned, with [effective_from, effective_to)
  *    validity. The reference's AP "golden record" is exactly this shape
  *    over time (status/location changes per BSSID); here folded from the
  *    orders stream per customer. ONE shuffle: the lag-compare, the
  *    version row_number and the lead() all share the per-key sort.
  *  - O20 interval islands — union overlapping [ship, receipt] intervals
  *    per supplier into maximal covered islands (gaps-and-islands): running
  *    max of interval end over the per-key sort, island breaks where the
  *    next start clears it, then one aggregate per island. Coverage and
  *    island counts are day-integer arithmetic — exact across engines. At
  *    100 TB both operators are a single hash-partition by key + in-
  *    partition sort (Spark's Window), no data-sized driver state.
  */
object HistoryQueries {

  /** A24 — SCD2 folding of per-customer order-status history. Epoch-day
    * integers end-to-end; the driver gate hashes the version chain, so a
    * change in tie-break order or off-by-one in the validity bounds flips
    * the hash. */
  val scd2History: Reg = Reg.sql(
    "a24_scd2_history",
    """WITH e AS (
      |  SELECT o_custkey, o_orderstatus,
      |         CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
      |         o_orderkey
      |  FROM orders),
      |c AS (
      |  SELECT *, LAG(o_orderstatus) OVER
      |    (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS prev_status
      |  FROM e),
      |ch AS (SELECT * FROM c
      |       WHERE prev_status IS NULL OR o_orderstatus <> prev_status),
      |v AS (
      |  SELECT o_custkey, o_orderstatus, day,
      |         ROW_NUMBER() OVER
      |           (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS version,
      |         LEAD(day) OVER
      |           (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS to_day
      |  FROM ch)
      |SELECT o_custkey AS custkey, o_orderstatus AS status,
      |       CAST(version AS BIGINT) AS version,
      |       CAST(day AS BIGINT) AS from_day,
      |       CAST(to_day AS BIGINT) AS to_day
      |FROM v ORDER BY custkey, version""".stripMargin) { (s, dir) =>
    val byKey = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    val e = Tables.orders(s, dir).select(
      col("o_custkey"), col("o_orderstatus"),
      datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
        .as("day"),
      col("o_orderkey"))
    val changes = e
      .withColumn("prev_status", lag("o_orderstatus", 1).over(byKey))
      .where(col("prev_status").isNull ||
        col("o_orderstatus") =!= col("prev_status"))
    changes
      .withColumn("version", row_number().over(byKey))
      .withColumn("to_day", lead("day", 1).over(byKey))
      .select(
        col("o_custkey").as("custkey"),
        col("o_orderstatus").as("status"),
        col("version").cast("bigint").as("version"),
        col("day").cast("bigint").as("from_day"),
        col("to_day").cast("bigint").as("to_day"))
      .orderBy("custkey", "version")
  }

  /** O20 — gaps-and-islands union of per-supplier [ship, receipt] windows.
    * The island break test uses the running max of PRIOR interval ends
    * (rows unbounded-preceding → 1-preceding), so touching intervals
    * (next.start == max prior end) merge, and a long interval swallowing
    * later short ones cannot split its island. */
  val intervalIslands: Reg = Reg.sql(
    "o20_interval_islands",
    """WITH iv AS (
      |  -- the synthetic schema has no receipt date; derive a 1..7-day
      |  -- transit window deterministically from the order key
      |  SELECT l_suppkey,
      |         CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS s,
      |         CAST(l_shipdate AS DATE) - DATE '1970-01-01'
      |           + 1 + l_orderkey % 7 AS e,
      |         l_orderkey, l_linenumber
      |  FROM lineitem),
      |m AS (
      |  SELECT *, MAX(e) OVER
      |    (PARTITION BY l_suppkey ORDER BY s, e, l_orderkey, l_linenumber
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_end
      |  FROM iv),
      |b AS (
      |  SELECT *, CASE WHEN prior_end IS NULL OR s > prior_end
      |                 THEN 1 ELSE 0 END AS brk
      |  FROM m),
      |isl AS (
      |  SELECT *, CAST(SUM(brk) OVER
      |    (PARTITION BY l_suppkey ORDER BY s, e, l_orderkey, l_linenumber
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS island
      |  FROM b),
      |g AS (
      |  SELECT l_suppkey, island,
      |         MIN(s) AS is_start, MAX(e) AS is_end, COUNT(*) AS n_iv
      |  FROM isl GROUP BY 1, 2)
      |SELECT l_suppkey AS suppkey,
      |       CAST(COUNT(*) AS BIGINT) AS n_islands,
      |       CAST(SUM(is_end - is_start + 1) AS BIGINT) AS covered_days,
      |       CAST(SUM(n_iv) AS BIGINT) AS n_intervals
      |FROM g GROUP BY 1 ORDER BY suppkey""".stripMargin) { (s, dir) =>
    val order = Window.partitionBy("l_suppkey")
      .orderBy("s", "e", "l_orderkey", "l_linenumber")
    val iv = Tables.lineitem(s, dir).select(
      col("l_suppkey"),
      datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
        .as("s"),
      (datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
        + lit(1) + col("l_orderkey") % 7).as("e"),
      col("l_orderkey"), col("l_linenumber"))
    val islands = iv
      .withColumn("prior_end",
        max("e").over(order.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prior_end").isNull || col("s") > col("prior_end"), 1)
          .otherwise(0))
      .withColumn("island",
        sum("brk").over(order.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .groupBy("l_suppkey", "island")
      .agg(min("s").as("is_start"), max("e").as("is_end"),
        count(lit(1)).as("n_iv"))
    islands.groupBy(col("l_suppkey").as("suppkey"))
      .agg(
        count(lit(1)).as("n_islands"),
        sum(col("is_end") - col("is_start") + 1).cast("bigint")
          .as("covered_days"),
        sum("n_iv").cast("bigint").as("n_intervals"))
      .orderBy("suppkey")
  }

  /** J14 — POINT-IN-TIME dimension lookup: every lineitem ship event is
    * enriched with the customer's SCD2 status version VALID AT SHIP TIME —
    * the classic "dimension as of event time" warehouse join, composed
    * from two existing operators: the a24 SCD2 fold builds the
    * [from_day, …) version chain, and `AsofJoin.joinAsof` (the j6
    * backward-as-of union idiom: one keyed shuffle + a running-last
    * window, never an interval pair expansion) attaches the last version
    * change at or before each event. Contiguous SCD2 validity makes the
    * backward as-of exactly the interval lookup — no residual BETWEEN
    * filter needed. Events before a customer's first version surface as
    * 'none' (LEFT semantics), never silently dropped; same-day version
    * ties resolve to the greatest status in BOTH engines (the as-of
    * payload-struct tie-break, restated as MAX(status) at the tied day).
    * Output is the per-status shipment rollup — integer counts and an
    * integral-valued quantity sum, exact cross-engine. */
  val scd2Lookup: Reg = Reg.sql(
    "j14_scd2_lookup",
    """WITH e AS (
      |  SELECT o_custkey, o_orderstatus,
      |         CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
      |         o_orderkey
      |  FROM orders),
      |c AS (
      |  SELECT *, LAG(o_orderstatus) OVER
      |    (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS prev
      |  FROM e),
      |h AS (SELECT o_custkey AS ck, o_orderstatus AS status,
      |             day AS from_day
      |      FROM c WHERE prev IS NULL OR o_orderstatus <> prev),
      |li AS (
      |  SELECT o.o_custkey AS ck,
      |         CAST(l.l_shipdate AS DATE) - DATE '1970-01-01' AS d,
      |         l.l_quantity
      |  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
      |lk AS (
      |  SELECT li.ck, li.d, li.l_quantity,
      |         (SELECT MAX(h.from_day) FROM h
      |          WHERE h.ck = li.ck AND h.from_day <= li.d) AS vday
      |  FROM li),
      |st AS (
      |  SELECT lk.l_quantity,
      |         COALESCE((SELECT MAX(h.status) FROM h
      |                   WHERE h.ck = lk.ck AND h.from_day = lk.vday),
      |                  'none') AS status_at_ship
      |  FROM lk)
      |SELECT status_at_ship, CAST(COUNT(*) AS BIGINT) AS n_lines,
      |       CAST(SUM(l_quantity) AS BIGINT) AS total_qty
      |FROM st GROUP BY status_at_ship ORDER BY status_at_ship""".stripMargin) {
    (s, dir) =>
      val byKey = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
      val e = Tables.orders(s, dir).select(
        col("o_custkey"), col("o_orderstatus"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .as("day"),
        col("o_orderkey"))
      val hist = e
        .withColumn("prev", lag("o_orderstatus", 1).over(byKey))
        .where(col("prev").isNull || col("o_orderstatus") =!= col("prev"))
        .select(col("o_custkey").as("custkey"),
          col("o_orderstatus").as("status"), col("day").as("from_day"))
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_quantity"),
          datediff(col("l_shipdate").cast("date"), lit("1970-01-01").cast("date"))
            .as("ship_day"))
        .join(Tables.orders(s, dir)
          .select(col("o_orderkey").as("l_orderkey"),
            col("o_custkey").as("custkey")), "l_orderkey")
      graft.operators.AsofJoin.joinAsof(
        li, hist, on = Seq("custkey"),
        leftTime = "ship_day", rightTime = "from_day",
        rightCols = Seq("status"), rightPrefix = "v_")
        .groupBy(coalesce(col("v_status"), lit("none")).as("status_at_ship"))
        .agg(count(lit(1)).as("n_lines"),
          sum("l_quantity").cast("bigint").as("total_qty"))
        .orderBy("status_at_ship")
  }

  /** A32 — INCREMENTAL SCD2 upsert: the a24 fold run as a real pipeline
    * runs it — per day-monotone batch, close-the-open-row + insert-new-
    * versions for CHANGED KEYS ONLY, through the VersionedTable
    * merge-on-read upsert (one equality-delete segment + one data segment
    * per batch; unchanged keys carry forward by reference in the
    * manifest). The fold seed is the stored OPEN row (its
    * status stands in for lag() across the batch boundary; its version
    * numbers the continuation), so batching is invisible: the final table
    * is row-identical to the one-shot a24 rebuild, which IS the oracle.
    *
    * Per-batch cost is O(changed keys) in COMPUTE AND I/O: the batch's
    * keys semi-join out their stored chains, one keyed window folds those
    * chains together with the batch's events, and the upsert commits only
    * the delta — the delete retires the changed keys' prior rows at read
    * time, never by rewriting data files (bytes-written gated in
    * HistorySpec). Late (out-of-order) arrivals are the standard SCD2
    * batch contract: they require a refold of the affected keys, not this
    * fast path. */
  val scd2Upsert: Reg = Reg.sql(
    "a32_scd2_upsert",
    """WITH e AS (
      |  SELECT o_custkey, o_orderstatus,
      |         CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS day,
      |         o_orderkey
      |  FROM orders),
      |c AS (
      |  SELECT *, LAG(o_orderstatus) OVER
      |    (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS prev_status
      |  FROM e),
      |ch AS (SELECT * FROM c
      |       WHERE prev_status IS NULL OR o_orderstatus <> prev_status),
      |v AS (
      |  SELECT o_custkey, o_orderstatus, day,
      |         ROW_NUMBER() OVER
      |           (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS version,
      |         LEAD(day) OVER
      |           (PARTITION BY o_custkey ORDER BY day, o_orderkey) AS to_day
      |  FROM ch)
      |SELECT o_custkey AS custkey, o_orderstatus AS status,
      |       CAST(version AS BIGINT) AS version,
      |       CAST(day AS BIGINT) AS from_day,
      |       CAST(to_day AS BIGINT) AS to_day
      |FROM v ORDER BY custkey, version""".stripMargin) { (s, dir) =>
    val work = graft.Scratch.dir("graft_scd2u")
    val path = s"$work/scd2"
    try {
      val e = Tables.orders(s, dir).select(
        col("o_custkey").as("custkey"), col("o_orderstatus").as("status"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date"))
          .cast("bigint").as("day"),
        col("o_orderkey").as("orderkey"))
        // one changelog scan: the range probe and all three batch slices
        // read the materialized frame instead of re-scanning orders
        .localCheckpoint()
      // three day-monotone batches (epoch thirds of the observed range)
      val (lo, hi) = {
        val r = e.agg(min("day"), max("day")).head()
        (r.getLong(0), r.getLong(1))
      }
      val cut1 = lo + (hi - lo) / 3
      val cut2 = lo + 2 * (hi - lo) / 3
      val batches = Seq(
        e.where(col("day") <= cut1),
        e.where(col("day") > cut1 && col("day") <= cut2),
        e.where(col("day") > cut2))
      // empty dimension with the SCD2 schema; every batch then runs the
      // SAME merge path (batch 1 simply finds no open rows)
      initScd2Dim(s, path, e)

      batches.foreach(applyScd2Batch(s, path, _))
      val out = readScd2Dim(s, path).orderBy("custkey", "version")
      // dimension-sized result: materialize so scratch can be deleted now
      s.createDataFrame(java.util.Arrays.asList(out.collect(): _*), out.schema)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(new java.io.File(work))
    }
  }

  /** One incremental SCD2 batch against the dimension at `path`: folds the
    * CHANGED KEYS' stored chains and the batch's events through ONE union +
    * ONE keyed window pass (one shuffle; the lag/lead/max/sum specs share
    * the partitioning and sort, and the post-filter windows inherit both,
    * so no re-exchange, no re-sort):
    *
    *  - stored rows ride along sorted by version (their from_day order);
    *    the OPEN row is always last among them, so the first batch event's
    *    lag(status) IS the open status — the cross-boundary seed, with no
    *    join;
    *  - SCD2 chains are contiguous (to_day = next from_day), so re-deriving
    *    every emitted row's to_day as lead(day) over the kept rows
    *    reproduces closed rows bit-identically, closes the open row at the
    *    first new change, and leaves it open (lead → NULL) when the batch
    *    brought no change;
    *  - new versions number from the open row's version watermark
    *    (max(version) over the key) plus a running count of kept events.
    *
    * Per-batch cost stays O(changed keys): the semi-join prunes the
    * dimension to the batch's key set before the fold. Batches must be
    * day-monotone (every event day in batch N+1 > every day in batch N for
    * the same key); any such split — including empty batches — folds to the
    * same table as the one-shot rebuild (property-tested in HistorySpec).
    * `batch` columns: (custkey, status, day, orderkey).
    *
    * `fenceId` makes the apply REPLAY-SAFE for at-least-once streaming
    * sinks: the fold itself is not idempotent (a replayed event at a day
    * that produced several same-day versions would compare against the
    * LAST same-day version, not its own), so a re-delivered batch must be
    * fenced out, not re-folded. The fence is a header OF the committed
    * manifest (VersionedTable.morUpsertFenced, the s29 CDC-sink shape),
    * so it can never tear away from the rows, and the whole apply is
    * skipped when the stored fence says the batch already committed.
    *
    * COMMIT PATH — merge-on-read, O(changed rows) per batch: the refolded
    * chains land as ONE equality-delete segment (the changed custkeys)
    * plus ONE data segment (their new chains); unchanged keys' rows are
    * carried forward BY REFERENCE in the manifest, never rewritten. This
    * is the reference's golden-record discipline (per-key upserts, never
    * table rewrites — `WifiAccessPointLocationRepositoryImpl.java`): at a
    * 100 TB dimension each micro-batch writes only its delta, and the
    * read-side anti-join debt is retired out-of-band by
    * [[graft.mutation.VersionedTable.morMaterialize]]. Bytes-written
    * gated in HistorySpec ("scd2 upsert commits O(changed keys)"). */
  private[graft] def applyScd2Batch(
      s: SparkSession, path: String, batch: DataFrame,
      fenceId: Option[Long] = None): Unit = {
    import graft.mutation.VersionedTable
    // ONE manifest resolution per trigger: the fence check, the dimension
    // read, and the commit all ride the same parsed snapshot instead of
    // each re-listing `_log` and re-reading the manifest (five round
    // trips per micro-batch before; one after). Single-writer foreachBatch
    // is the documented contract, so the head cannot move between the
    // check and the commit — and if it somehow did, the commit's OCC pin
    // to this snapshot's version fails loudly rather than lose an update.
    val snap = VersionedTable.snapshot(s, path)
      .getOrElse(throw new IllegalStateException(s"$path has no version 0"))
    if (fenceId.exists(id => snap.fences.get(scd2App).exists(_ >= id)))
      return
    val updates = scd2Fold(VersionedTable.readSnapshot(s, path, snap), batch)
      // one materialization: the upsert writes the delete segment and the
      // data segment from the same frame — don't re-run the fold per write
      .localCheckpoint()
    // an empty batch folds to an empty delta: skip the commit whole (a
    // replayed empty batch re-folds to another no-op, so the fence is
    // not needed for idempotence)
    if (updates.isEmpty) return
    VersionedTable.morUpsertSnap(s, path, snap, updates, Seq("custkey"),
      fenceId.map(scd2App -> _))
    ()
  }

  /** The pure SCD2 fold: the changed keys' stored chains (`existing`)
    * refolded with the batch's events into their complete new chains —
    * O(changed keys) rows out, one keyed window pass. Shared by
    * [[applyScd2Batch]] and the COW-vs-MOR profile harness (ProfileScd2,
    * removed; last in tree at 26c49d5), so both arms measured the
    * identical fold. */
  private[graft] def scd2Fold(
      existing: DataFrame, batch: DataFrame): DataFrame = {
    val changedKeys = batch.select("custkey").distinct()
    val exU = existing.join(changedKeys, Seq("custkey"), "left_semi")
      .select(col("custkey"), col("status"), col("version"),
        col("from_day").as("day"), lit(-1L).as("orderkey"),
        lit(0).as("kind"))
    val evU = batch.select(col("custkey"), col("status"),
      lit(null).cast("bigint").as("version"), col("day"), col("orderkey"),
      lit(1).as("kind"))
    val w = Window.partitionBy("custkey")
      .orderBy("day", "kind", "version", "orderkey")
    val wAll = w.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    exU.unionByName(evU)
      // lag over ALL events (kept or not): change = differs from the
      // previous EVENT, exactly the oracle's LAG-over-orders semantics
      .withColumn("prev_eff", lag("status", 1).over(w))
      .where(col("kind") === 0 ||
        col("prev_eff").isNull || col("status") =!= col("prev_eff"))
      .withColumn("v0", max(when(col("kind") === 0, col("version"))).over(wAll))
      .withColumn("version",
        when(col("kind") === 0, col("version"))
          .otherwise(coalesce(col("v0"), lit(0L)) + sum("kind").over(wRun)))
      .withColumn("to_day", lead("day", 1).over(w))
      .select(col("custkey"), col("status"), col("version").cast("bigint"),
        col("day").as("from_day"), col("to_day").cast("bigint"))
  }

  /** Fence lineage for the SCD2 fold's commits (one writer lineage per
    * dimension; a restarted stream with a fresh checkpoint must use a new
    * table, exactly the appendFenced contract). */
  private[graft] val scd2App = "scd2"

  /** Create the empty SCD2 dimension (version 0) that [[applyScd2Batch]]
    * folds into — shared by a32, s25 and HistorySpec so the store layout
    * has exactly one owner. */
  private[graft] def initScd2Dim(
      s: SparkSession, path: String, like: DataFrame): Unit = {
    graft.mutation.VersionedTable.create(s, path,
      like.select(col("custkey"), col("status"),
        lit(0L).as("version"), col("day").as("from_day"),
        lit(null).cast("bigint").as("to_day"))
        .where(lit(false)))
    ()
  }

  /** The folded dimension at head — [[applyScd2Batch]]'s read side. */
  private[graft] def readScd2Dim(
      s: SparkSession, path: String): DataFrame =
    graft.mutation.VersionedTable.read(s, path)
      .select(col("custkey"), col("status"), col("version"),
        col("from_day"), col("to_day"))

  /** A54 — BITEMPORAL query: VALID time (when a fact is true in the
    * world — the SCD2 [valid_from, valid_to) interval) crossed with
    * TRANSACTION time (when the warehouse learned it — the
    * VersionedTable commit). Three transaction versions of a customer
    * dimension (create, then two copy-on-write SCD2 corrections taking
    * effect at valid days 100 and 200); each bitemporal read is plain
    * time travel + an interval predicate, and the probe grid pins the
    * two assertions that make bitemporality worth its storage: a later
    * transaction does NOT rewrite the past (T=1or2 at V=50 ≡ T=0: the
    * v1 change exists in the log but is valid only from day 100), and
    * an earlier transaction does not know the future (T=1 at V=150
    * misses the v2 change entirely). Every expected aggregate is a
    * closed form over customer. At 100 TB: transaction time costs one
    * manifest per commit (a35's machinery), valid time one interval
    * filter — neither axis scans history. */
  val bitemporal: Reg = Reg.sql(
    "a54_bitemporal",
    """WITH c AS (SELECT c_custkey AS k, CAST(c_nationkey AS BIGINT) AS addr
      |           FROM customer),
      |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(addr) AS BIGINT) AS s
      |         FROM c),
      |u1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c WHERE k % 3 = 0),
      |u2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c WHERE k % 5 = 0)
      |SELECT 't0_v150' AS probe, base.n AS rows_n, base.s AS addr_sum
      |  FROM base
      |UNION ALL SELECT 't1_v050', base.n, base.s FROM base
      |UNION ALL SELECT 't1_v150', base.n, base.s + 100 * u1.n FROM base, u1
      |UNION ALL SELECT 't2_v150', base.n, base.s + 100 * u1.n FROM base, u1
      |UNION ALL SELECT 't2_v250', base.n, base.s + 100 * u1.n + 1000 * u2.n
      |  FROM base, u1, u2
      |ORDER BY probe""".stripMargin) { (s, dir) =>
    import graft.mutation.VersionedTable
    val work = graft.Scratch.dir("graft_bitemp")
    val root = s"$work/t"
    try {
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("k"),
          col("c_nationkey").cast("bigint").as("addr"))
      val dim0 = c.withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(99999L))
      VersionedTable.create(s, root, dim0)
      // tx v1: customers k%3=0 move (addr+100) effective valid day 100
      def scd2(cur: DataFrame, pred: org.apache.spark.sql.Column,
          delta: Long, day: Long): DataFrame = {
        val open = col("valid_to") === 99999L
        val affected = cur.where(pred && open)
        cur.where(!(pred && open))
          .unionByName(affected.withColumn("valid_to", lit(day)))
          .unionByName(affected
            .withColumn("addr", col("addr") + delta)
            .withColumn("valid_from", lit(day)))
      }
      VersionedTable.replace(s, root,
        scd2(VersionedTable.read(s, root), col("k") % 3 === 0, 100L, 100L))
      VersionedTable.replace(s, root,
        scd2(VersionedTable.read(s, root), col("k") % 5 === 0, 1000L, 200L))
      def probe(t: Long, v: Long): (Long, Long) = {
        val r = VersionedTable.read(s, root, Some(t))
          .where(col("valid_from") <= v && col("valid_to") > v)
          .agg(count(lit(1)), sum("addr").cast("bigint")).head()
        (r.getLong(0), r.getLong(1))
      }
      val grid = Seq(("t0_v150", 0L, 150L), ("t1_v050", 1L, 50L),
        ("t1_v150", 1L, 150L), ("t2_v150", 2L, 150L), ("t2_v250", 2L, 250L))
      import s.implicits._
      grid.map { case (name, t, v) =>
        val (n, sum) = probe(t, v); (name, n, sum)
      }.toDF("probe", "rows_n", "addr_sum")
        .orderBy("probe")
    } finally deleteRecursively(new java.io.File(work))
  }

  private def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  val all: Seq[Reg] =
    Seq(scd2History, intervalIslands, scd2Lookup, scd2Upsert, bitemporal)
}
