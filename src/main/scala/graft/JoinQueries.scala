package graft

import org.apache.spark.sql.functions._

import graft.operators.Joins
import graft.streaming.StreamingOps

/** Time-series join queries (as-of + interval), the two join shapes the
  * reference gets from `pd.merge_asof` / boolean-mask slicing and a naive
  * Spark translation plans as a cartesian. Both replay exactly in DuckDB
  * (windowed LOCF / inequality join), so both carry full oracles.
  */
object JoinQueries {

  /** 7 days in epoch-nanos (`events.ts` unit per [[Tables.events]]). */
  private val TolNs = 604800000000000L

  /** 1 day in epoch-nanos. */
  private val DayNs = 86400000000000L

  val defs: Seq[QueryDef] = Seq(

    // ── X48: backward as-of join — every error event picks the latest
    //    click by the same user at-or-before it, within a 7-day
    //    tolerance. Merge+LOCF: one shuffle on user_id, no pair
    //    materialization (operators/Joins.scala header). Exact matches
    //    count; same-timestamp clicks resolve to the max event_id ──
    QueryDef(
      "x48_asof_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("event_id"), col("user_id"), col("ts"), col("value"))
        Joins.asofJoin(errors, clicks, Seq("user_id"), "ts", "ts",
            payload = Seq("value"), rightOrder = "event_id",
            tolerance = Some(TolNs))
          .select(col("event_id"), col("user_id"),
            round(coalesce(col("asof_value"), lit(-1.0)), 6).as("click_value"),
            coalesce(col("asof_staleness"), lit(-1L)).as("staleness_ns"))
      },
      Some(s"""
        WITH tagged AS (
          SELECT user_id, epoch_ns(ts) AS t, event_id, 1 AS is_l,
                 CAST(NULL AS DOUBLE) AS rv, CAST(NULL AS BIGINT) AS rt,
                 CAST(NULL AS BIGINT) AS rord
          FROM events WHERE event_type = 'error'
          UNION ALL
          SELECT user_id, epoch_ns(ts) AS t, event_id, 0 AS is_l,
                 value AS rv, epoch_ns(ts) AS rt, event_id AS rord
          FROM events WHERE event_type = 'click'
        ), locf AS (
          SELECT user_id, t, event_id, is_l,
            last_value(rv IGNORE NULLS) OVER w AS lv,
            last_value(rt IGNORE NULLS) OVER w AS lt
          FROM tagged
          WINDOW w AS (PARTITION BY user_id
            ORDER BY t, is_l, COALESCE(rord, 9223372036854775807)
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        )
        SELECT event_id, user_id,
          round(CASE WHEN lt IS NOT NULL AND t - lt <= $TolNs
                THEN lv ELSE -1.0 END, 6) AS click_value,
          CASE WHEN lt IS NOT NULL AND t - lt <= $TolNs
                THEN t - lt ELSE -1 END AS staleness_ns
        FROM locf WHERE is_l = 1
      """.stripMargin.trim)),

    // ── X49: bounded interval join — per error event, how many clicks
    //    (and their value sum) the same user produced in the preceding
    //    day. Bucketed band join: each error probes 2 day-buckets, never
    //    the user's whole click history ──
    QueryDef(
      "x49_range_join",
      (s, dir) => {
        val ev = Tables.events(s, dir)
        val errors = ev.filter(col("event_type") === "error")
          .select(col("event_id"), col("user_id"), col("ts"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts"), col("value"))
        val pairs = Joins.rangeJoin(errors, clicks, Seq("user_id"),
          "ts", "ts", width = DayNs, payload = Seq("value"))
        val counts = pairs.groupBy(col("event_id"), col("user_id"))
          .agg(count(lit(1)).as("__n"), sum(col("r_value")).as("__sv"))
        errors.join(counts, Seq("event_id", "user_id"), "left")
          .select(col("event_id"), col("user_id"),
            coalesce(col("__n"), lit(0L)).as("n_recent_clicks"),
            round(coalesce(col("__sv"), lit(0.0)), 6).as("sum_click_value"))
      },
      Some(s"""
        WITH e AS (
          SELECT event_id, user_id, epoch_ns(ts) AS t
          FROM events WHERE event_type = 'error'
        ), c AS (
          SELECT user_id, epoch_ns(ts) AS t, value
          FROM events WHERE event_type = 'click'
        )
        SELECT e.event_id, e.user_id,
          CAST(count(c.t) AS BIGINT) AS n_recent_clicks,
          round(COALESCE(sum(c.value), 0.0), 6) AS sum_click_value
        FROM e LEFT JOIN c ON c.user_id = e.user_id
          AND c.t > e.t - $DayNs AND c.t <= e.t
        GROUP BY e.event_id, e.user_id
      """.stripMargin.trim)),

    // ── X50: STREAM-STREAM interval join — x49's correlation as a real
    //    Structured Streaming query: errors and clicks arrive on two
    //    watermarked MemoryStreams and inner-join on user within the
    //    event-time band. This is the production shape for streaming
    //    correlation at ingest scale: both sides' buffered state is
    //    bounded by the watermark + the join's time-range condition
    //    (Spark evicts rows that can no longer match), so state is
    //    O(events per band window), never the stream history. The exact
    //    band is re-checked on the epoch-nanos longs (the event-time
    //    range condition is microsecond-truncated — it handles state
    //    eviction; the nanos predicate handles correctness). Inner join
    //    emits matches as soon as both sides arrive — no sentinel
    //    closure needed. Oracle = the batch inequality join (INNER:
    //    zero-click errors don't emit). ──
    QueryDef(
      "x50_stream_range_join",
      (s, dir) => streamRangeJoin(s, dir),
      Some(s"""
        WITH e AS (
          SELECT event_id, user_id, epoch_us(ts) AS t
          FROM events WHERE event_type = 'error'
        ), c AS (
          SELECT user_id, epoch_us(ts) AS t, value
          FROM events WHERE event_type = 'click'
        )
        SELECT e.event_id, e.user_id,
          CAST(count(*) AS BIGINT) AS n_recent_clicks,
          round(sum(c.value), 6) AS sum_click_value
        FROM e JOIN c ON c.user_id = e.user_id
          AND c.t > e.t - ${DayNs / 1000L} AND c.t <= e.t
        GROUP BY e.event_id, e.user_id
      """.stripMargin.trim)),

    // ── X101: stream-stream LEFT OUTER interval join — x50's shape with
    //    the outer contract: an error with NO click in its band must
    //    still emit, null-padded, and streaming can only do that once
    //    the watermark proves no match can still arrive — the sentinel
    //    batches (on BOTH streams; the global watermark is the min
    //    across sources) force that proof for every real row. Oracle =
    //    the batch LEFT join: matched errors carry their counts,
    //    unmatched ones exactly one (0, null) row ──
    QueryDef(
      "x101_stream_outer_join",
      (s, dir) => streamOuterRangeJoin(s, dir),
      Some(s"""
        WITH e AS (
          SELECT event_id, user_id, epoch_us(ts) AS t
          FROM events WHERE event_type = 'error'
        ), c AS (
          SELECT user_id, epoch_us(ts) AS t, value
          FROM events WHERE event_type = 'click'
        )
        SELECT e.event_id, e.user_id,
          CAST(count(c.t) AS BIGINT) AS n_recent_clicks,
          round(sum(c.value), 6) AS sum_click_value
        FROM e LEFT JOIN c ON c.user_id = e.user_id
          AND c.t > e.t - ${DayNs / 1000L} AND c.t <= e.t
        GROUP BY 1, 2
      """.stripMargin.trim)),

    // ── X52: skew-salted fact-dim join — events salted 8 ways against
    //    customer, revenue per nation. The oracle is the PLAIN join:
    //    salting must be invisible in the results ──
    QueryDef(
      "x52_salted_join",
      (s, dir) => saltedRevenue(s, dir),
      Some("""
        SELECT c.c_nationkey,
          CAST(count(*) AS BIGINT) AS n_events,
          round(sum(e.value), 6) AS sum_value
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        GROUP BY c.c_nationkey
      """.stripMargin.trim)),

    // ── X84: co-located bucketed join (sources/Bucketed) — both tables
    //    written `bucketBy(16, custkey) + sortBy` into the session
    //    catalog, then sort-merge joined with ZERO exchange on either
    //    input (require()-enforced from the executed plan, and
    //    spec-checked; the merge hint pins SMJ so a broadcast can't mask
    //    the layout at this SF). The 100 TB story: the join's shuffle is
    //    paid once at layout time, every later join of the pair is a
    //    bucket-local merge. Oracle: the PLAIN join — the layout must be
    //    invisible in the results ──
    QueryDef(
      "x84_bucketed_join",
      (s, dir) => {
        import graft.sources.Bucketed
        val tag = Scratch.tag(dir)
        val ot = Bucketed.writeBucketed(
          Tables.orders(s, dir), s"orders_b_$tag", "o_custkey", 16)
        val ct = Bucketed.writeBucketed(
          Tables.customer(s, dir).withColumnRenamed("c_custkey", "o_custkey"),
          s"customer_b_$tag", "o_custkey", 16)
        val j = Bucketed.bucketedJoin(s, ot, ct, "o_custkey")
        val n = Bucketed.exchangeCount(j)
        require(n == 0, s"bucketed join planned $n exchanges; layout not co-located")
        j.groupBy(col("c_nationkey").as("nationkey"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("sum_price"),
            min(col("o_orderkey")).as("min_orderkey"))
      },
      Some("""
        SELECT c.c_nationkey AS nationkey,
          count(*) AS n_orders,
          round(sum(o.o_totalprice), 2) AS sum_price,
          min(o.o_orderkey) AS min_orderkey
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
      """.stripMargin.trim)),

    // ── X85: stream-static enrichment join — the canonical Structured
    //    Streaming deployment shape (stream of events, slowly-changing
    //    dim at rest): click events through a REAL MemoryStream query,
    //    each micro-batch broadcast-joined against the static customer
    //    dim — per-batch join, no stream state, no shuffle of the stream
    //    side. Oracle = the plain batch join: the streaming execution
    //    must be invisible in the results ──
    QueryDef(
      "x85_stream_static_join",
      (s, dir) => streamStaticEnrich(s, dir),
      Some("""
        SELECT c.c_nationkey,
          count(*) AS n_clicks,
          round(sum(e.value), 6) AS sum_value,
          min(e.event_id) AS min_event
        FROM events e JOIN customer c ON e.user_id = c.c_custkey
        WHERE e.event_type = 'click'
        GROUP BY 1
      """.stripMargin.trim)),

    // ── X86: date-partitioned layout + partition pruning
    //    (sources/Partitioned) — orders written partitioned by month,
    //    a two-month slice read back with the pruned-partition count
    //    require()-checked off the executed scan (== 2 directories
    //    listed, not the whole table). The lake layout that makes a
    //    time-slice query at 100 TB cost the slice, not the table.
    //    Oracle: the same slice straight off the base table ──
    QueryDef(
      "x86_partition_prune",
      (s, dir) => {
        import graft.sources.Partitioned
        val path = Scratch.forInput("orders_bymonth", dir)
        Partitioned.writeByKey(
          Tables.orders(s, dir)
            .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM")),
          path, "o_month")
        val slice = Partitioned.scan(s, path)
          .filter(col("o_month").isin("1997-03", "1997-04"))
        val n = Partitioned.prunedPartitionCount(slice)
        require(n == 2, s"expected 2 pruned partitions, scan selected $n")
        slice.groupBy(col("o_month"))
          .agg(count(lit(1)).as("n_orders"),
            round(sum(col("o_totalprice")), 2).as("sum_price"),
            min(col("o_orderkey")).as("min_orderkey"))
      },
      Some("""
        SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
          count(*) AS n_orders,
          round(sum(o_totalprice), 2) AS sum_price,
          min(o_orderkey) AS min_orderkey
        FROM orders
        WHERE strftime(o_orderdate, '%Y-%m') IN ('1997-03', '1997-04')
        GROUP BY 1
      """.stripMargin.trim)),

    // ── X129: Z-order layout + data-skipping proof — the Delta/Iceberg
    //    ZORDER BY device (operators/ZOrder.scala): lineitem written
    //    twice with the IDENTICAL write shape (16 range-partitioned,
    //    internally sorted files), once keyed by l_partkey alone (the
    //    single-column sort baseline) and once by the Morton interleave
    //    of (l_partkey, l_suppkey). A 2-D box predicate (quarter range
    //    in each dimension ≈ 1/16 of the data) is then planned against
    //    each layout's per-file min/max stats — the footer ranges a real
    //    scan planner prunes with: the linear layout prunes only on
    //    l_partkey (every file spans all suppkeys), the z-order layout
    //    prunes on both. The strict improvement is asserted in
    //    ZOrderSpec on a controlled fixture; in-query it is only
    //    WARNED on (file counts ride Spark's sampled range partitioner,
    //    so a tie is an environment outcome that must not abort the
    //    run, and they stay out of the hashed output). The
    //    hashed result is the box aggregate read FROM the z-ordered
    //    files — layout must be invisible in the data (exact-integer
    //    sums, so row-order changes can't move a ulp). FULL oracle ──
    QueryDef(
      "x129_zorder_skip",
      (s, dir) => {
        import graft.operators.ZOrder
        val zPath = Scratch.forInput("zorder", dir)
        val linPath = Scratch.forInput("zlinear", dir)
        val li = Tables.lineitem(s, dir).select(
          col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), col("l_returnflag"))
        // 32 files: the box (one level-2 Morton cell = 1/16 of z-space)
        // spans ~2 z-files while the linear arm's x-quarter spans ~8 —
        // a margin that survives range-sampling noise at sf0.001, where
        // 16 files left the two arms able to tie at 4-4
        val nFiles = 32
        ZOrder.layoutZOrder(li, Seq("l_partkey", "l_suppkey"), nFiles)
          .write.mode("overwrite").parquet(zPath)
        ZOrder.layoutLinear(li, "l_partkey", nFiles)
          .write.mode("overwrite").parquet(linPath)
        val dims = Seq("l_partkey", "l_suppkey")
        // box = the second quarter of EACH dimension, derived from the
        // data's min/max with the same integer arithmetic as the oracle
        // (key ranges scale with the SF dir, so literals can't be fixed);
        // ceil(range/4) .. (range-1)/2 keeps the whole box strictly
        // inside normalized quadrant 2 of both dims — one level-2 Morton
        // cell, a contiguous z-range — at every scale factor
        val mm = li.agg(min(col("l_partkey")), max(col("l_partkey")),
          min(col("l_suppkey")), max(col("l_suppkey"))).head()
        val (pMin, pMax, sMin, sMax) =
          (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
        val (pLo, pHi) = (pMin + (pMax - pMin + 3) / 4, pMin + (pMax - pMin - 1) / 2)
        val (sLo, sHi) = (sMin + (sMax - sMin + 3) / 4, sMin + (sMax - sMin - 1) / 2)
        val box = Map("l_partkey" -> (pLo.toDouble, pHi.toDouble),
          "l_suppkey" -> (sLo.toDouble, sHi.toDouble))
        val zTouch = ZOrder.filesTouched(ZOrder.fileRangeStats(s, zPath, dims), box)
        val linTouch = ZOrder.filesTouched(ZOrder.fileRangeStats(s, linPath, dims), box)
        // the strict-improvement invariant is asserted in ZOrderSpec on a
        // controlled fixture; here the file split depends on Spark's
        // SAMPLED range partitioner, so a tie is an environment outcome,
        // not a correctness failure — report it rather than abort the
        // whole verify/bench run on a sampling draw
        if (zTouch >= linTouch)
          System.err.println(
            s"[x129] WARN z-order touched $zTouch files vs linear " +
              s"$linTouch — range-sampling draw, see ZOrderSpec for the " +
              "controlled strict-improvement assertion")
        s.read.parquet(zPath)
          .filter(col("l_partkey").between(pLo, pHi) &&
            col("l_suppkey").between(sLo, sHi))
          .groupBy(col("l_returnflag"))
          .agg(count(lit(1)).as("n_rows"),
            sum(col("l_quantity")).cast("bigint").as("sum_qty"),
            sum(col("l_orderkey")).as("sum_okey"),
            min(col("l_partkey")).as("min_pk"),
            max(col("l_suppkey")).as("max_sk"))
      },
      Some("""
        WITH mm AS (
          SELECT min(l_partkey) AS pmin, max(l_partkey) AS pmax,
                 min(l_suppkey) AS smin, max(l_suppkey) AS smax
          FROM lineitem
        ), box AS (
          SELECT pmin + (pmax - pmin + 3) // 4 AS plo,
                 pmin + (pmax - pmin - 1) // 2 AS phi,
                 smin + (smax - smin + 3) // 4 AS slo,
                 smin + (smax - smin - 1) // 2 AS shi
          FROM mm
        )
        SELECT l_returnflag,
          count(*) AS n_rows,
          CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
          min(l_partkey) AS min_pk,
          max(l_suppkey) AS max_sk
        FROM lineitem, box
        WHERE l_partkey BETWEEN plo AND phi AND l_suppkey BETWEEN slo AND shi
        GROUP BY 1
      """.stripMargin.trim)),

    // ── X133: runtime Bloom-filter join pruning (InjectRuntimeFilter) —
    //    the shuffle-join IO saver that matters most at 100 TB: when a
    //    selective filter sits on one join side, the optimizer builds a
    //    Bloom filter of that side's join keys (bloom_filter_agg) and
    //    screens the BIG side with might_contain BEFORE its shuffle —
    //    lineitem rows that cannot match never leave the scan stage.
    //    The injection thresholds are sized for clusters, so the query
    //    pins them to bench scale (application-side floor 0, broadcast
    //    off to force the SMJ the rule targets), require()-checks the
    //    injected screen in the optimized plan (the x98/x99 plan-proof
    //    style), executes UNDER the pinned confs and emits the bounded
    //    aggregate as a literal frame before restoring them. FULL
    //    oracle: the join aggregate — the bloom screen must be
    //    result-invisible (false positives only ever pass EXTRA rows to
    //    the real join, never drop matches) ──
    QueryDef(
      "x133_bloom_join_prune",
      (s, dir) => {
        import s.implicits._
        val pinned = Seq(
          "spark.sql.autoBroadcastJoinThreshold" -> "-1",
          "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
          "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "64MB")
        val prev = pinned.map { case (k, _) => k -> s.conf.getOption(k) }
        pinned.foreach { case (k, v) => s.conf.set(k, v) }
        try {
          val sel = Tables.orders(s, dir)
            .filter(col("o_orderpriority") === "1-URGENT" &&
              date_format(col("o_orderdate"), "yyyy-MM") === "1997-03")
          val j = Tables.lineitem(s, dir)
            .join(sel, col("l_orderkey") === col("o_orderkey"))
            .groupBy(col("o_orderpriority"))
            .agg(count(lit(1)).as("n_lines"),
              sum(col("l_quantity")).cast("bigint").as("sum_qty"),
              countDistinct(col("o_orderkey")).as("n_orders"))
          require(j.queryExecution.optimizedPlan.toString.contains("might_contain"),
            "runtime bloom filter was not injected into the probe side")
          j.collect().toSeq
            .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
            .toDF("o_orderpriority", "n_lines", "sum_qty", "n_orders")
        } finally prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("""
        SELECT o_orderpriority,
          count(*) AS n_lines,
          CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          count(DISTINCT o_orderkey) AS n_orders
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
          AND strftime(o_orderdate, '%Y-%m') = '1997-03'
        GROUP BY 1
      """.stripMargin.trim)),

    // ── X141: key-based MERGE INTO (sources/Upsert.scala) — the
    //    re-crawl corpus update: updated docs replace their base rows,
    //    new docs insert, and a MOVED doc (its partition value changed)
    //    must not leave a stale copy behind — the merge locates every
    //    update key's CURRENT partition with an ids-only column-pruned
    //    base scan and rewrites the union of current+target partitions
    //    (drop-then-append; untouched partition dirs byte-identical).
    //    The update set exercises all three paths at once: % 11 texts
    //    rewritten in place, % 13 = 5 docs moved to a new source,
    //    doc_id+1000000 inserts under a fresh source (overlaps take both
    //    effects in ONE update row — no double-key ambiguity). The merge
    //    is applied TWICE: idempotence is require()-pinned (second pass
    //    updates the same keys, inserts zero) and the hashed output is
    //    the final table state per source. FULL oracle: the merged view
    //    replays as set arithmetic over `documents` ──
    QueryDef(
      "x141_upsert_corpus",
      (s, dir) => {
        import graft.sources.Upsert
        val path = Scratch.forInput("upsert", dir)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source"))
        docs.repartition(col("source"))
          .write.mode("overwrite").partitionBy("source").parquet(path)
        val upd = docs
          .filter(col("doc_id") % 11 === 0 || col("doc_id") % 13 === 5)
          .withColumn("text",
            when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
              .otherwise(col("text")))
          .withColumn("source",
            when(col("doc_id") % 13 === 5, lit("moved"))
              .otherwise(col("source")))
        val ins = docs.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            lit("fresh").as("source"))
        val batch = upd.unionByName(ins).localCheckpoint()
        val nUpd = upd.count()
        val nIns = ins.count()
        val (u1, i1) = Upsert.mergeInto(s, path, batch, "doc_id", "source")
        require(u1 == nUpd && i1 == nIns,
          s"first merge: updated $u1/$nUpd, inserted $i1/$nIns")
        // idempotence: the second pass replaces identical content and
        // inserts nothing — every prior insert is now an update
        val (u2, i2) = Upsert.mergeInto(s, path, batch, "doc_id", "source")
        require(u2 == nUpd + nIns && i2 == 0L,
          s"re-merge not idempotent: updated $u2, inserted $i2")
        s.read.parquet(path)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("text_crc_sum"))
      },
      Some("""
        WITH upd AS (
          SELECT doc_id,
            CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text,
            CASE WHEN doc_id % 13 = 5 THEN 'moved' ELSE source END AS source
          FROM documents WHERE doc_id % 11 = 0 OR doc_id % 13 = 5
        ), ins AS (
          SELECT doc_id + 1000000 AS doc_id, text, 'fresh' AS source
          FROM documents WHERE doc_id % 7 = 1
        ), allupd AS (
          SELECT * FROM upd UNION ALL SELECT * FROM ins
        ), merged AS (
          SELECT doc_id, text, source FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM allupd)
          UNION ALL
          SELECT doc_id, text, source FROM allupd
        )
        SELECT source, count(*) AS n_docs,
          CAST(sum(doc_id) AS BIGINT) AS id_sum,
          CAST(sum(('0x' || substring(md5(text), 1, 8))::BIGINT) AS BIGINT)
            AS text_crc_sum
        FROM merged GROUP BY source
      """.stripMargin.trim)),

    // ── X142: streaming CDC apply loop — x141's MERGE driven by a real
    //    Structured Streaming foreachBatch (the Kafka-CDC-consumer
    //    shape; the ingest-matrix discipline of x45/x122/x126/x46/x123
    //    applied to the newest lifecycle op): three update micro-batches
    //    — in-place text rewrites, cross-partition moves, inserts —
    //    apply sequentially against the partitioned base table, then
    //    batch A is RE-DELIVERED: MERGE is idempotent by construction
    //    (replacing a row with identical content), so the re-delivery
    //    require()-pins updated = |A|, inserted = 0 and the hashed final
    //    state is unchanged. Batches are key-disjoint (A excludes the
    //    movers), so last-writer sequencing equals set arithmetic and
    //    the FULL oracle is one merged view over `documents` ──
    QueryDef(
      "x142_stream_cdc_apply",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import graft.sources.Upsert
        val path = Scratch.forInput("cdc", dir)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source"))
        docs.repartition(col("source"))
          .write.mode("overwrite").partitionBy("source").parquet(path)
        val rows = docs.as[(Long, String, String)].collect()
        val a = rows.filter(r => r._1 % 11 == 0 && r._1 % 13 != 5)
          .map(r => (r._1, r._2 + " v2", r._3))
        val b = rows.filter(_._1 % 13 == 5).map(r => (r._1, r._2, "moved"))
        val c = rows.filter(_._1 % 7 == 1)
          .map(r => (r._1 + 1000000L, r._2, "fresh"))
        val applied = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        val mem = MemoryStream[(Long, String, String)]
        val q = mem.toDF().toDF("doc_id", "text", "source").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
            applied += Upsert.mergeInto(s, path, batch, "doc_id", "source")
            (): Unit
          }
          .option("checkpointLocation", StreamingOps.checkpointDir("x142"))
          .start()
        StreamingOps.drive(q, "x142")(Seq(a, b, c, a))( // 4th = re-delivery of A
          batch => mem.addData(batch.toIndexedSeq: _*))
        require(applied.toSeq == Seq(
          (a.length.toLong, 0L), (b.length.toLong, 0L),
          (0L, c.length.toLong), (a.length.toLong, 0L)),
          s"CDC apply counts wrong: $applied")
        s.read.parquet(path)
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("text_crc_sum"))
      },
      Some("""
        WITH a AS (
          SELECT doc_id, text || ' v2' AS text, source FROM documents
          WHERE doc_id % 11 = 0 AND doc_id % 13 <> 5
        ), b AS (
          SELECT doc_id, text, 'moved' AS source FROM documents
          WHERE doc_id % 13 = 5
        ), c AS (
          SELECT doc_id + 1000000 AS doc_id, text, 'fresh' AS source
          FROM documents WHERE doc_id % 7 = 1
        ), allupd AS (
          SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c
        ), merged AS (
          SELECT doc_id, text, source FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM allupd)
          UNION ALL
          SELECT doc_id, text, source FROM allupd
        )
        SELECT source, count(*) AS n_docs,
          CAST(sum(doc_id) AS BIGINT) AS id_sum,
          CAST(sum(('0x' || substring(md5(text), 1, 8))::BIGINT) AS BIGINT)
            AS text_crc_sum
        FROM merged GROUP BY source
      """.stripMargin.trim)),

    // ── X144: versioned snapshot reads / time travel
    //    (sources/Snapshots.scala) — the commit-log core of
    //    Delta/Iceberg on plain parquet, answering the reproducibility
    //    question a training pipeline keeps asking: which rows EXACTLY
    //    did run N train on? Two appends, a GDPR-shaped erasure, and a
    //    roll-forward restore; then every version is read AS OF its
    //    manifest AFTER all mutations — time travel must be unaffected
    //    by later commits. Structural sharing is require()-pinned
    //    in-query: the erasure's manifest must carry untouched files BY
    //    REFERENCE (at 100 TB a delete rewrites the few files holding
    //    the erased ids, nothing else), and the restore's manifest must
    //    equal v1's file-for-file. The appends bucket files by
    //    doc_id % 5 so the %5==0 erasure provably leaves files
    //    untouched. FULL oracle: each version is pure set arithmetic
    //    over `documents` ──
    QueryDef(
      "x144_snapshot_reads",
      (s, dir) => {
        import graft.sources.Snapshots
        val path = Scratch.forInput("snap", dir)
        Snapshots.drop(s, path)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"))
        def bucketed(c: org.apache.spark.sql.Column) = docs.filter(c)
          .repartition(4, pmod(col("doc_id"), lit(5)))
        val v1 = Snapshots.append(bucketed(col("doc_id") % 3 === 0), path)
        val v2 = Snapshots.append(bucketed(col("doc_id") % 3 === 1), path)
        val v3 = Snapshots.deleteWhere(s, path, col("doc_id") % 5 === 0)
        val v4 = Snapshots.rollback(s, path, v1)
        require((v1, v2, v3, v4) == ((1, 2, 3, 4)), s"versions $v1 $v2 $v3 $v4")
        val f2 = Snapshots.activeFiles(s, path, 2).toSet
        val f3 = Snapshots.activeFiles(s, path, 3).toSet
        require((f2 & f3).nonEmpty,
          "erasure must carry untouched files by reference, not rewrite the table")
        require(Snapshots.activeFiles(s, path, 4) ==
          Snapshots.activeFiles(s, path, 1),
          "restore must republish v1's manifest file-for-file")
        import s.implicits._
        val out = docStats(s, path, 1 to 4)
        // retention GC: keep v3+v4, drop the older manifests and every
        // unreferenced data file — the restored version must keep its
        // ancestor's files alive through its own manifest
        val (dropped, _) = Snapshots.vacuum(s, path, keepLast = 2)
        require(dropped == 2, s"vacuum dropped $dropped manifests")
        require(docStats(s, path, Seq(3, 4)) == out.drop(2),
          "kept versions changed under vacuum")
        out.toDF("version", "n_docs", "id_sum", "text_crc_sum")
      },
      Some("""
        WITH v1 AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0
        ), v2 AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 3 IN (0, 1)
        ), v3 AS (
          SELECT doc_id, text FROM v2 WHERE doc_id % 5 <> 0
        ), stats AS (
          SELECT 1 AS version, count(*) AS n_docs,
            CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum,
            CAST(coalesce(sum(('0x' || substring(md5(text), 1, 8))::BIGINT), 0)
              AS BIGINT) AS text_crc_sum FROM v1
          UNION ALL
          SELECT 2, count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT),
            CAST(coalesce(sum(('0x' || substring(md5(text), 1, 8))::BIGINT), 0)
              AS BIGINT) FROM v2
          UNION ALL
          SELECT 3, count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT),
            CAST(coalesce(sum(('0x' || substring(md5(text), 1, 8))::BIGINT), 0)
              AS BIGINT) FROM v3
          UNION ALL
          SELECT 4, count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT),
            CAST(coalesce(sum(('0x' || substring(md5(text), 1, 8))::BIGINT), 0)
              AS BIGINT) FROM v1
        )
        SELECT CAST(version AS BIGINT) AS version, n_docs, id_sum,
          text_crc_sum
        FROM stats
      """.stripMargin.trim)),

    // ── X149: STREAMING snapshot ingest + OPTIMIZE — the snapshot
    //    tier's cell in the ingest-loop matrix (exact: x45; near-dup:
    //    x122; semantic: x126; IVF: x46; HNSW: x123; CDC-merge: x142):
    //    a real Structured Streaming foreachBatch drive commits each
    //    micro-batch as an EXACTLY-ONCE snapshot append
    //    (`appendIdempotent` — the Delta txnAppId/txnVersion contract:
    //    the commit records (appId, batchId), a checkpoint-recovery
    //    replay of the same batchId is a no-op, require()-proved
    //    in-query; one immutable commit dir per wave, the manifest
    //    write is the txn boundary so a reader never sees a
    //    half-ingested wave), then a GDPR erasure, then
    //    `Snapshots.compact` (the Delta OPTIMIZE analogue: the
    //    stream's accumulated small files collapse into one fresh
    //    commit; older versions still read their own immutable files;
    //    vacuum reclaims superseded ones under retention). File-count
    //    collapse and read-stability of every historical version are
    //    require()-pinned in-query. FULL oracle: each version is pure
    //    set arithmetic over `documents` (the x144 device; the
    //    compacted version must read identically to the erased one) ──
    QueryDef(
      "x149_stream_snapshot_ingest",
      (s, dir) => {
        import s.implicits._
        import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
        implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
        import graft.sources.Snapshots
        val path = Scratch.forInput("snap_stream", dir)
        Snapshots.drop(s, path)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id").cast("long"), col("text"))
          .as[(Long, String)].collect()
        val mem = MemoryStream[(Long, String)]
        val q = mem.toDF().toDF("doc_id", "text").writeStream
          .foreachBatch { (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
            // exactly-once sink: the commit carries (appId, batchId), so
            // a checkpoint-recovery replay of the same batch is a no-op
            Snapshots.appendIdempotent(
              batch.repartition(2, pmod(col("doc_id"), lit(5))), path,
              appId = "x149", batchId = batchId)
            (): Unit
          }
          .option("checkpointLocation", StreamingOps.checkpointDir("x149"))
          .start()
        val waves = Seq(0L, 1L, 2L).map(m => docs.filter(_._1 % 3 == m))
        StreamingOps.drive(q, "x149")(waves)(b => mem.addData(b.toIndexedSeq: _*))
        require(Snapshots.latestVersion(s, path) == 3,
          "three micro-batches must commit three versions")
        // checkpoint-recovery replay: the last wave re-delivered under
        // its ORIGINAL batchId must commit NOTHING (Delta txn contract)
        val replay = Snapshots.appendIdempotent(
          waves(2).toSeq.toDF("doc_id", "text"), path,
          appId = "x149", batchId = 2L)
        require(replay.isEmpty && Snapshots.latestVersion(s, path) == 3,
          "replayed batch double-committed — exactly-once broken")
        val v4 = Snapshots.deleteWhere(s, path, col("doc_id") % 5 === 0)
        val filesBefore = Snapshots.activeFiles(s, path, v4).length
        val v5 = Snapshots.compact(s, path, targetFiles = 1)
        val filesAfter = Snapshots.activeFiles(s, path, v5).length
        require(filesAfter < filesBefore,
          s"OPTIMIZE must collapse the stream's files: $filesBefore -> $filesAfter")
        val out = Snapshots.versionStats(s, path, 1 to 5)(_ => Seq(
            count(lit(1)), coalesce(sum(col("doc_id")), lit(0L))))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .sortBy(_._1).toSeq
        // compaction is invisible in the data and history stays stable
        require(out(4)._2 == out(3)._2 && out(4)._3 == out(3)._3,
          "compacted version diverged from the erased one")
        out.toDF("version", "n_docs", "id_sum")
      },
      Some("""
        WITH v1 AS (
          SELECT doc_id FROM documents WHERE doc_id % 3 = 0
        ), v2 AS (
          SELECT doc_id FROM documents WHERE doc_id % 3 IN (0, 1)
        ), v3 AS (
          SELECT doc_id FROM documents
        ), v4 AS (
          SELECT doc_id FROM documents WHERE doc_id % 5 <> 0
        ), stats AS (
          SELECT 1 AS version, count(*) AS n_docs,
            CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM v1
          UNION ALL
          SELECT 2, count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM v2
          UNION ALL
          SELECT 3, count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM v3
          UNION ALL
          SELECT 4, count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM v4
          UNION ALL
          SELECT 5, count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM v4
        )
        SELECT CAST(version AS BIGINT) AS version, n_docs, id_sum FROM stats
      """.stripMargin.trim)),

    // ── X150: snapshot CHANGE FEED → incremental MV — the Delta CDF
    //    analogue (`Snapshots.changes`) driving exact materialized-view
    //    upkeep (`DeltaRollup.applyBatch`), the composition that turns
    //    the commit log into a CDC source: the net row changes between
    //    two versions come out as a +1/−1 changelog read ONLY from the
    //    files the interval added or dropped (structural sharing prunes
    //    every carried file — at 100 TB, CDC between adjacent versions
    //    costs the commit's own write volume, never a table scan), and
    //    survivor rows a deleteWhere rewrite merely MOVED between files
    //    cancel in the multiset difference. In-query proofs: the
    //    append interval's feed is pure +1; the erasure interval's −1
    //    set is exactly the erased keys (cancellation worked); the
    //    maintained summary equals a direct recompute over the final
    //    version. FULL oracle: the final version's rollup as set
    //    arithmetic over `documents` ──
    QueryDef(
      "x150_snapshot_change_feed",
      (s, dir) => {
        import graft.operators.DeltaRollup
        import graft.sources.Snapshots
        val spath = Scratch.forInput("snapcdc", dir)
        val rpath = Scratch.forInput("snapcdc_mv", dir)
        Snapshots.drop(s, spath)
        DeltaRollup.drop(s, rpath)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source"))
        def bucketed(c: org.apache.spark.sql.Column) = docs.filter(c)
          .repartition(4, pmod(col("doc_id"), lit(5)))
        Snapshots.append(bucketed(col("doc_id") % 3 === 0), spath) // v1
        Snapshots.append(bucketed(col("doc_id") % 3 === 1), spath) // v2
        Snapshots.deleteWhere(s, spath, col("doc_id") % 5 === 0)   // v3
        // sharing exists ⇒ the CDC reads strictly fewer files than two
        // table scans would (the pruning the operator is built on)
        val f2 = Snapshots.activeFiles(s, spath, 2).toSet
        val f3 = Snapshots.activeFiles(s, spath, 3).toSet
        require((f2 & f3).nonEmpty,
          "erasure rewrote the whole table — nothing for CDC to prune")
        val c12 = Snapshots.changes(s, spath, 1, 2)
        val c23 = Snapshots.changes(s, spath, 2, 3)
        // append interval: pure insert feed
        require(c12.filter(col("__op") === -1).isEmpty,
          "append interval produced retractions")
        // erasure interval: retractions are EXACTLY the erased keys —
        // survivor rows the rewrite moved between files canceled out
        val badMinus = c23.filter(col("__op") === -1)
          .filter(col("doc_id") % 5 =!= 0).count()
        val plus23 = c23.filter(col("__op") === 1).count()
        require(badMinus == 0 && plus23 == 0,
          s"survivor cancellation failed: $badMinus stray retractions, " +
            s"$plus23 stray inserts")
        // changelog-driven MV: bootstrap from v1, advance by the feeds
        val w = length(col("text"))
        DeltaRollup.applyBatch(
          Snapshots.read(s, spath, Some(1)).withColumn("__op", lit(1)),
          rpath, Seq("source"), "__op", w)
        DeltaRollup.applyBatch(c12, rpath, Seq("source"), "__op", w)
        val summary = DeltaRollup.applyBatch(c23, rpath, Seq("source"), "__op", w)
        val direct = Snapshots.read(s, spath, Some(3))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_rows"),
            sum(w.cast("long")).as("weight_sum"))
        val diff = summary.exceptAll(direct).count() +
          direct.exceptAll(summary).count()
        require(diff == 0,
          s"CDC-maintained summary diverged from recompute: $diff rows")
        summary.select(col("source"), col("n_rows"),
          col("weight_sum").as("char_sum"))
      },
      Some("""
        WITH v3 AS (
          SELECT doc_id, text, source FROM documents
          WHERE doc_id % 3 IN (0, 1) AND doc_id % 5 <> 0
        )
        SELECT source, count(*) AS n_rows,
          CAST(sum(length(text)) AS BIGINT) AS char_sum
        FROM v3 GROUP BY source
      """.stripMargin.trim)),

    // ── X152: snapshot DATA SKIPPING — zone maps on the commit log
    //    (the Delta data-skipping contract): every commit records its
    //    new files' per-column min/max, read from the parquet footers it
    //    just wrote (O(new files) driver metadata, never a data scan),
    //    and a range read opens ONLY the files whose zone overlaps the
    //    predicate. On a range-clustered ingest (repartitionByRange on
    //    the hot column — the sorted-layout discipline x129 proves for
    //    Z-order) a selective range touches O(matching files) of a
    //    100 TB table. In-query proof: the pruned file count is strictly
    //    below the manifest's total across BOTH commits. The exact
    //    predicate still applies on top — skipping is superset pruning,
    //    never a correctness device. FULL oracle: the same range
    //    aggregate over `documents` ──
    QueryDef(
      "x152_snapshot_data_skipping",
      (s, dir) => {
        import graft.sources.Snapshots
        val path = Scratch.forInput("snap_skip", dir)
        Snapshots.drop(s, path)
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        Snapshots.append(
          docs.filter(col("doc_id") % 2 === 0)
            .repartitionByRange(8, col("doc_id")), path)
        Snapshots.append(
          docs.filter(col("doc_id") % 2 === 1)
            .repartitionByRange(8, col("doc_id")), path)
        val (kept, total) = Snapshots.skippingFileCounts(
          s, path, "doc_id", BigDecimal(10), BigDecimal(60))
        require(kept < total,
          s"zone maps pruned nothing: $kept/$total files for a selective range")
        Snapshots.readRange(s, path, "doc_id", BigDecimal(10), BigDecimal(60))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(length(col("text")).cast("long")).as("char_sum"))
      },
      Some("""
        SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
          CAST(sum(length(text)) AS BIGINT) AS char_sum
        FROM documents WHERE doc_id BETWEEN 10 AND 60
      """.stripMargin.trim)),

    // ── X151: snapshot SCHEMA EVOLUTION — the mergeSchema contract on
    //    the commit log (x88 proves it on plain layouts; here the
    //    schema is VERSION-PINNED state): a widening append adds a
    //    column (older files read it back as null), time travel to v1
    //    returns v1's columns — never the grown set — a NAME/TYPE
    //    conflict fails loudly BEFORE anything is written (in-query
    //    require: the failed append committed nothing), and a restore
    //    republishes the restored version's schema (the Delta RESTORE
    //    contract). FULL oracle: per-version row/lang/id stats as set
    //    arithmetic over `documents` ──
    QueryDef(
      "x151_snapshot_schema_evolution",
      (s, dir) => {
        import graft.sources.Snapshots
        val path = Scratch.forInput("snap_evolve", dir)
        Snapshots.drop(s, path)
        val docs = Tables.documents(s, dir)
        Snapshots.append(
          docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("text")),
          path)
        Snapshots.append(
          docs.filter(col("doc_id") % 2 === 1)
            .select(col("doc_id"), col("text"), col("lang")), path)
        require(Snapshots.read(s, path, Some(1)).schema.fieldNames.toSeq ==
          Seq("doc_id", "text"), "time travel must pin v1's schema")
        require(Snapshots.read(s, path, Some(2)).schema.fieldNames.toSeq ==
          Seq("doc_id", "text", "lang"), "widening append must add the column")
        // a type conflict must fail loudly and commit NOTHING
        val conflicted =
          try {
            Snapshots.append(docs.select(col("doc_id"), col("text"),
              col("doc_id").as("lang")), path)
            false
          } catch { case _: IllegalArgumentException => true }
        require(conflicted, "conflicting append did not fail")
        require(Snapshots.latestVersion(s, path) == 2,
          "failed append left a committed version")
        val v3 = Snapshots.rollback(s, path, 1)
        require(Snapshots.read(s, path, Some(v3)).schema.fieldNames.toSeq ==
          Seq("doc_id", "text"), "restore must republish v1's schema")
        Snapshots.versionStats(s, path, Seq(1, 2, 3)) { df =>
          val langCnt =
            if (df.columns.contains("lang"))
              count(when(col("lang").isNotNull, lit(1)))
            else lit(0L)
          Seq(count(lit(1)).as("n_docs"), langCnt.cast("long").as("n_lang"),
            coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"))
        }
      },
      Some("""
        WITH v1 AS (
          SELECT doc_id FROM documents WHERE doc_id % 2 = 0
        ), v2all AS (
          SELECT doc_id, CASE WHEN doc_id % 2 = 1 THEN lang END AS lang
          FROM documents
        ), stats AS (
          SELECT 1 AS version, count(*) AS n_docs, 0 AS n_lang,
            CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum FROM v1
          UNION ALL
          SELECT 2, count(*), count(lang),
            CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM v2all
          UNION ALL
          SELECT 3, count(*), 0,
            CAST(coalesce(sum(doc_id), 0) AS BIGINT) FROM v1
        )
        SELECT CAST(version AS BIGINT) AS version, n_docs,
          CAST(n_lang AS BIGINT) AS n_lang, id_sum
        FROM stats
      """.stripMargin.trim)),

    // ── X89: small-file compaction (Partitioned.compact) — the lake
    //    maintenance job every streaming/partitioned ingest needs: a
    //    deliberately fragmented layout (32 writer tasks × per-type
    //    directories) rewritten into a fresh snapshot with O(1) files per
    //    directory; the ≥8× file-count drop is require()-enforced and the
    //    aggregates are read FROM the compacted snapshot. Oracle: the
    //    base table — compaction must be invisible in the data ──
    QueryDef(
      "x89_compaction",
      (s, dir) => {
        import graft.sources.Partitioned
        val frag = Scratch.forInput("frag", dir)
        val compacted = Scratch.forInput("compacted", dir)
        Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
          .repartition(32) // simulate 32 ingest writer tasks
          .write.mode("overwrite").partitionBy("event_type").parquet(frag)
        Partitioned.compact(s, frag, compacted, "event_type")
        val (before, after) = (Partitioned.dataFiles(s, frag).size,
          Partitioned.dataFiles(s, compacted).size)
        require(after * 8 <= before,
          s"compaction must collapse the file count: $before -> $after")
        Partitioned.scan(s, compacted)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 6).as("sum_value"),
            min(col("event_id")).as("min_event"))
      },
      Some("""
        SELECT event_type, count(*) AS n_events,
          round(sum(value), 6) AS sum_value,
          min(event_id) AS min_event
        FROM events GROUP BY 1
      """.stripMargin.trim)),

    // ── X90: idempotent partition re-processing — dynamic
    //    partitionOverwriteMode, the OSS-parquet answer to "a batch job
    //    died and retried; did the lake double-count?": re-running a
    //    slice's write overwrites ONLY the partitions present in the
    //    incoming data (static mode would truncate the whole table; plain
    //    append would duplicate). The 'click' slice is rewritten TWICE
    //    and the total row count is require()-checked unchanged. Oracle:
    //    the base table — retries must be invisible ──
    QueryDef(
      "x90_idempotent_overwrite",
      (s, dir) => {
        val path = Scratch.forInput("dynover", dir)
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        ev.repartition(col("event_type"))
          .write.mode("overwrite").partitionBy("event_type").parquet(path)
        // the mode is a writer option, not a session conf: a query
        // starting beside this one keeps the session's static overwrite
        (1 to 2).foreach { _ => // the retried micro-batch
          ev.filter(col("event_type") === "click")
            .repartition(col("event_type"))
            .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
            .partitionBy("event_type").parquet(path)
        }
        // both counts from parquet footers: the table just written, and
        // the source table `ev` projects without a filter
        val (n, n0) = (graft.sources.Partitioned.footerRowCount(s, path),
          Tables.rowCount(s, dir, "events"))
        require(n == n0, s"retry duplicated or truncated rows: $n0 -> $n")
        // `ev`'s schema, given: inferring it from a footer is a Spark job
        s.read.schema(ev.schema).parquet(path)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"),
            round(sum(col("value")), 6).as("sum_value"),
            min(col("event_id")).as("min_event"))
      },
      Some("""
        SELECT event_type, count(*) AS n_events,
          round(sum(value), 6) AS sum_value,
          min(event_id) AS min_event
        FROM events GROUP BY 1
      """.stripMargin.trim)),

    // ── X96: format interchange — the same fact slice written and read
    //    back through ORC (the other columnar format), CSV (schema-on-
    //    read with explicit types; header kept) and JSON lines; one
    //    aggregate per format, all three rows forced equal by the oracle
    //    (CROSS JOIN over the format tags). Proves the sink/source pair
    //    round-trips types exactly — including Double.toString
    //    round-tripping through the text formats ──
    QueryDef(
      "x96_format_roundtrip",
      (s, dir) => {
        val base = Scratch.forInput("fmt", dir)
        val ev = Tables.events(s, dir)
          .select(col("event_id"), col("event_type"), col("value"))
        ev.write.mode("overwrite").orc(s"$base/orc")
        ev.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
        ev.write.mode("overwrite").json(s"$base/json")
        val schema = org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, event_type STRING, value DOUBLE")
        val back = Seq(
          "orc" -> s.read.orc(s"$base/orc"),
          "csv" -> s.read.schema(schema).option("header", "true").csv(s"$base/csv"),
          "json" -> s.read.schema(schema).json(s"$base/json"))
        back.map { case (fmt, df) =>
          df.groupBy(lit(fmt).as("fmt"))
            .agg(count(lit(1)).as("n_events"),
              round(sum(col("value")), 6).as("sum_value"),
              min(col("event_id")).as("min_event"))
        }.reduce(_.unionAll(_))
      },
      Some("""
        SELECT f.fmt, count(*) AS n_events,
          round(sum(value), 6) AS sum_value,
          min(event_id) AS min_event
        FROM events CROSS JOIN (VALUES ('orc'), ('csv'), ('json')) f(fmt)
        GROUP BY 1
      """.stripMargin.trim)),

    // ── X98: AQE skew-join re-plan — the runtime half of the skew story
    //    (x52 is the by-hand salting): half of the fact rows are
    //    folded onto one hot key, broadcast is disabled so the shuffle
    //    SMJ is what AQE sees, and the skew thresholds are scaled to the
    //    bench SF so OptimizeSkewedJoin actually splits the hot
    //    partition — require()-checked from the POST-execution adaptive
    //    plan (the only view that shows it). Oracle: the plain folded
    //    join — the re-plan must be invisible in the results ──
    QueryDef(
      "x98_aqe_skew",
      (s, dir) => {
        // spread first: the hot partition must arrive from MANY map tasks
        // for AQE to split it (skew specs are per-mapper ranges; a
        // single-file local scan is one mapper, and a one-mapper hot
        // partition reports "not splittable" — on a real cluster the
        // upstream stage always has many tasks, which spread() simulates)
        val ev = Tables.spread(Tables.events(s, dir))
          .withColumn("k",
            when(col("user_id") % 2 === 0, lit(7L)).otherwise(col("user_id")))
        val cust = Tables.customer(s, dir)
          .select(col("c_custkey").as("k"), col("c_nationkey"))
        val keys = Seq(
          "spark.sql.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.autoBroadcastJoinThreshold",
          "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
          "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
          "spark.sql.adaptive.forceOptimizeSkewedJoin",
          "spark.sql.adaptive.advisoryPartitionSizeInBytes",
          "spark.sql.adaptive.coalescePartitions.enabled")
        val prev = keys.map(k => k -> s.conf.getOption(k))
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
          // bench-SF scaling: the hot partition is ~3x the median (25% of
          // the fact rows on one key vs a near-uniform tail), so the
          // default factor 5 would never fire here; production keeps the
          // defaults and sees the same mechanism at MB scale
          // thresholds sized so the proof holds from the sf0.001 smoke
          // (hot partition ~10 KB there) up through the bench SFs
          s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2KB")
          s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.5")
          // the downstream re-aggregation shuffles on a different key, so
          // splitting the join costs nothing extra here — but the rule's
          // conservative extra-shuffle guard can't see that; force it
          s.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
          s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1KB")
          s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
          val out = ev.join(cust, "k")
            .groupBy(col("c_nationkey"))
            .agg(count(lit(1)).as("n_events"),
              round(sum(col("value")), 6).as("sum_value"))
          // execute THIS QueryExecution so its adaptive plan finalizes,
          // then read the skew marker off the final plan
          out.queryExecution.toRdd.count()
          val plan = (out.queryExecution.executedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.executedPlan
            case p => p
          }).toString
          require(plan.contains("skew=true"),
            s"AQE did not split the skewed partition:\n$plan")
          out
        } finally prev.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      },
      Some("""
        SELECT c_nationkey, count(*) AS n_events,
          round(sum(value), 6) AS sum_value
        FROM (SELECT CASE WHEN user_id % 2 = 0 THEN 7 ELSE user_id END AS k,
                value FROM events) e
        JOIN customer ON e.k = c_custkey
        GROUP BY 1
      """.stripMargin.trim)),

    // ── X99: AQE partition coalescing — the self-healing half of
    //    shuffle-partition sizing: a tiny per-user aggregate under 32
    //    configured partitions is coalesced at runtime to a handful
    //    (require()-checked from the final adaptive plan), so an
    //    over-provisioned `spark.sql.shuffle.partitions` — which a 100 TB
    //    job sizes for its BIGGEST stage — costs nothing on its small
    //    stages. Oracle: the same two-level aggregate ──
    QueryDef(
      "x99_aqe_coalesce",
      (s, dir) => {
        val out = Tables.events(s, dir)
          .groupBy(col("user_id")).agg(sum(col("value")).as("sv"))
          .groupBy((col("user_id") % 10).as("g"))
          .agg(count(lit(1)).as("n_users"),
            round(sum(col("sv")), 6).as("sum_value"))
        val plan = finalAdaptivePlan(out)
        require(plan.contains("AQEShuffleRead coalesced"),
          s"AQE did not coalesce the small shuffle:\n$plan")
        out
      },
      Some("""
        SELECT user_id % 10 AS g, count(*) AS n_users,
          round(sum(sv), 6) AS sum_value
        FROM (SELECT user_id, sum(value) AS sv FROM events GROUP BY 1)
        GROUP BY 1
      """.stripMargin.trim)),

    // ── X154: DELETION VECTORS — rewrite-free erasure on the commit
    //    log (the Delta DV contract, sources/Snapshots.scala
    //    `deleteWhereDV`): a GDPR delete records WHICH rows of WHICH
    //    files are dead in a tiny positional sidecar instead of
    //    rewriting the touched files — at 100 TB the erasure costs one
    //    predicate scan plus a kilobyte-scale sidecar write, ZERO data
    //    rewrite; every read surface subtracts the version's DVs (an
    //    anti-join on (file, row_index) whose right side is the erased
    //    rows only), the CDC feed reads DV deltas at POSITION level
    //    (never a scan), and OPTIMIZE materializes accumulated DVs
    //    away. In-query proofs: the DV erasure's manifest is
    //    file-for-file IDENTICAL to its parent, stacked sidecars stay
    //    disjoint, the change feed across the DV interval is pure
    //    retractions of exactly the erased keys, and the compacted
    //    version carries no DVs while reading identically. FULL oracle:
    //    each version is pure set arithmetic over `documents` ──
    QueryDef(
      "x154_deletion_vectors",
      (s, dir) => {
        import graft.sources.Snapshots
        val path = Scratch.forInput("snap_dv", dir)
        Snapshots.drop(s, path)
        val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
        val v1 = Snapshots.append(
          docs.repartition(4, pmod(col("doc_id"), lit(5))), path)
        val f1 = Snapshots.activeFiles(s, path, v1)
        val v2 = Snapshots.deleteWhereDV(s, path, col("doc_id") % 5 === 0)
        val v3 = Snapshots.deleteWhereDV(s, path, col("doc_id") % 7 === 3)
        require(Snapshots.activeFiles(s, path, v2) == f1 &&
          Snapshots.activeFiles(s, path, v3) == f1,
          "DV erasure must not rewrite a single data file")
        require(Snapshots.activeDvFiles(s, path, v3).length == 2,
          "two erasures must stack two sidecars")
        // the CDC feed across the DV interval: pure retractions of
        // exactly the erased keys, read at position level
        val c12 = Snapshots.changes(s, path, 1, 2)
        require(c12.filter(col("__op") === 1).isEmpty,
          "DV erasure feed produced inserts")
        require(c12.filter(col("__op") === -1)
          .filter(col("doc_id") % 5 =!= 0).isEmpty,
          "DV erasure feed retracted a surviving row")
        val v4 = Snapshots.compact(s, path, targetFiles = 2)
        require(Snapshots.activeDvFiles(s, path, v4).isEmpty,
          "OPTIMIZE must materialize deletion vectors away")
        import s.implicits._
        val out = docStats(s, path, 1 to 4)
        // retention: v3 (DV-carrying) + v4 kept — the sidecars survive
        // vacuum while any kept version references them
        Snapshots.vacuum(s, path, keepLast = 2)
        require(docStats(s, path, Seq(3, 4)) == out.drop(2),
          "kept versions changed under vacuum")
        out.toDF("version", "n_docs", "id_sum", "text_crc_sum")
      },
      Some("""
        WITH v2 AS (
          SELECT doc_id, text FROM documents WHERE doc_id % 5 <> 0
        ), v3 AS (
          SELECT doc_id, text FROM v2 WHERE doc_id % 7 <> 3
        ), stats AS (
          SELECT 1 AS version, count(*) AS n_docs,
            CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum,
            CAST(coalesce(sum(('0x' || substring(md5(text), 1, 8))::BIGINT), 0)
              AS BIGINT) AS text_crc_sum FROM documents
          UNION ALL
          SELECT 2, count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT),
            CAST(coalesce(sum(('0x' || substring(md5(text), 1, 8))::BIGINT), 0)
              AS BIGINT) FROM v2
          UNION ALL
          SELECT 3, count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT),
            CAST(coalesce(sum(('0x' || substring(md5(text), 1, 8))::BIGINT), 0)
              AS BIGINT) FROM v3
          UNION ALL
          SELECT 4, count(*), CAST(coalesce(sum(doc_id), 0) AS BIGINT),
            CAST(coalesce(sum(('0x' || substring(md5(text), 1, 8))::BIGINT), 0)
              AS BIGINT) FROM v3
        )
        SELECT CAST(version AS BIGINT) AS version, n_docs, id_sum,
          text_crc_sum
        FROM stats
      """.stripMargin.trim)),

    // ── X155: BLOOM point-lookup index — the skipping device zone maps
    //    can't provide (sources/Snapshots.scala `indexBloom`): point
    //    lookups on a STRING digest key (dedup ids, URLs, content
    //    hashes) over a hash-distributed layout, where min/max ranges
    //    are useless. One distributed pass builds a per-file Bloom
    //    filter (public spark.util.sketch, small-state shuffle keyed by
    //    file), sidecars live beside the data files, and a k-key lookup
    //    opens only the files whose filter might contain a probe — at
    //    100 TB, O(k) files instead of a table scan; a false positive
    //    opens one extra file, never returns a wrong row (the exact IN
    //    filter and DV subtraction still apply). In-query proof: the
    //    probe keeps strictly fewer files than the manifest total. FULL
    //    oracle: the same digest lookup over `documents` (DuckDB and
    //    Spark md5 agree byte-for-byte) ──
    QueryDef(
      "x155_bloom_point_lookup",
      (s, dir) => {
        import graft.sources.Snapshots
        val path = Scratch.forInput("snap_bloom", dir)
        Snapshots.drop(s, path)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), md5(col("text")).as("key"),
            col("source"), col("n_chars"))
        Snapshots.append(docs.repartition(8, col("doc_id")), path)
        val nIdx = Snapshots.indexBloom(s, path, "key",
          expectedPerFile = 100000L, fpp = 0.01)
        require(nIdx == Snapshots.activeFiles(s, path, 1).length,
          "every active file must carry a bloom filter")
        val probes = docs.filter(col("doc_id").isin(7L, 21L))
          .select(col("key")).distinct()
          .collect().map(_.getString(0)).toSeq.sorted
        require(probes.nonEmpty, "probe docs missing from the corpus")
        val (kept, total) = Snapshots.bloomFileCounts(s, path, "key", probes)
        require(kept < total,
          s"bloom index pruned nothing: $kept/$total files " +
            s"for ${probes.length} keys")
        Snapshots.readPointsBloom(s, path, "key", probes)
          .select(col("doc_id"), col("source"), col("n_chars"))
      },
      Some("""
        SELECT doc_id, source, n_chars FROM documents
        WHERE md5(text) IN
          (SELECT md5(text) FROM documents WHERE doc_id IN (7, 21))
      """.stripMargin.trim)),

    // ── X157: ATOMIC MERGE on the commit log (sources/Snapshots.scala
    //    `merge`) — the Delta MERGE INTO core as ONE manifest publish:
    //    x141/x142 prove the partitioned-layout upsert, but a
    //    deleteWhere + append pair on the snapshot log would expose a
    //    readable GAP (deletes applied, inserts not yet); merge resolves
    //    survivors and inserts first and publishes once, so readers see
    //    the old version or the fully merged one, never between. On the
    //    range-clustered layout only the files holding a matched key are
    //    rewritten (require()-pinned: untouched files carry by
    //    reference — at 100 TB a re-crawl batch rewrites the few files
    //    its keys land in); duplicate source keys fail loudly; a
    //    re-merge of the same batch is content-idempotent
    //    (require()-pinned by whole-table CRC). FULL oracle: the merged
    //    state is set arithmetic over `documents` ──
    QueryDef(
      "x157_snapshot_merge",
      (s, dir) => {
        import graft.sources.Snapshots
        val path = Scratch.forInput("snap_merge", dir)
        Snapshots.drop(s, path)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source"))
        Snapshots.appendClustered(docs, path, "doc_id", nFiles = 8)
        val f1 = Snapshots.activeFiles(s, path, 1)
        val upd = docs.filter(col("doc_id").between(100, 199))
          .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"),
            col("source"))
        val mv = docs.filter(col("doc_id").between(300, 349))
          .select(col("doc_id"), col("text"), lit("moved").as("source"))
        val ins = docs.filter(col("doc_id") % 7 === 1)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
            lit("fresh").as("source"))
        val batch = upd.unionByName(mv).unionByName(ins)
        val v2 = Snapshots.merge(s, path, batch, Seq("doc_id"))
        require(v2 == 2, "merge must publish exactly ONE new version")
        val carried = Snapshots.activeFiles(s, path, v2).toSet & f1.toSet
        require(carried.nonEmpty,
          "merge rewrote every file — upsert must be O(touched)")
        // content idempotence: re-applying the same batch is a no-op
        val v3 = Snapshots.merge(s, path, batch, Seq("doc_id"))
        def crc(v: Int) = Snapshots.read(s, path, Some(v))
          .agg(coalesce(sum(conv(substring(md5(concat_ws("|",
            col("doc_id"), col("text"), col("source"))), 1, 8), 16, 10)
            .cast("long")), lit(0L))).head().getLong(0)
        require(crc(v3) == crc(v2), "re-merge changed the table content")
        Snapshots.read(s, path, Some(v2))
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long"))
              .as("text_crc_sum"))
      },
      Some("""
        WITH upd AS (
          SELECT doc_id, text || ' v2' AS text, source FROM documents
          WHERE doc_id BETWEEN 100 AND 199
        ), mv AS (
          SELECT doc_id, text, 'moved' AS source FROM documents
          WHERE doc_id BETWEEN 300 AND 349
        ), ins AS (
          SELECT doc_id + 1000000 AS doc_id, text, 'fresh' AS source
          FROM documents WHERE doc_id % 7 = 1
        ), allupd AS (
          SELECT * FROM upd UNION ALL SELECT * FROM mv
          UNION ALL SELECT * FROM ins
        ), merged AS (
          SELECT doc_id, text, source FROM documents
          WHERE doc_id NOT IN (SELECT doc_id FROM allupd)
          UNION ALL
          SELECT doc_id, text, source FROM allupd
        )
        SELECT source, count(*) AS n_docs,
          CAST(sum(doc_id) AS BIGINT) AS id_sum,
          CAST(sum(('0x' || substring(md5(text), 1, 8))::BIGINT) AS BIGINT)
            AS text_crc_sum
        FROM merged GROUP BY source
      """.stripMargin.trim)),

    // ── X158: OPTIMIZE ZORDER on the commit log
    //    (sources/Snapshots.scala `compactClustered`) — the missing half
    //    of the snapshot skipping story: x152 proves zone maps prune a
    //    layout that was WRITTEN clustered, but a streaming ingest's
    //    hash/arrival-ordered files each span the whole key range and
    //    prune NOTHING (require()-pinned below). One OPTIMIZE pass
    //    re-clusters — multi-column Morton Z-order (x129's curve on the
    //    commit log), DVs materialized away, row conservation checked
    //    from footers — after which range reads on BOTH clustered
    //    columns open strict subsets (require()-pinned). At 100 TB this
    //    is the nightly OPTIMIZE that turns an append-ordered ingest
    //    into a prunable table. FULL oracle: the same range aggregate
    //    over `documents` ──
    QueryDef(
      "x158_snapshot_optimize_zorder",
      (s, dir) => {
        import graft.sources.Snapshots
        val path = Scratch.forInput("snap_optz", dir)
        Snapshots.drop(s, path)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("n_chars"))
        // three hash-bucketed waves: every file spans the full id range
        (0 to 2).foreach { w =>
          Snapshots.append(docs.filter(col("doc_id") % 3 === w)
            .repartition(3, pmod(col("doc_id"), lit(4))), path)
        }
        val (k0, t0) = Snapshots.skippingFileCounts(
          s, path, "doc_id", BigDecimal(25), BigDecimal(75))
        require(k0 == t0,
          s"hash-bucketed layout should prune nothing: $k0/$t0")
        Snapshots.compactClustered(
          s, path, Seq("doc_id", "n_chars"), targetFiles = 8)
        val (k1, t1) = Snapshots.skippingFileCounts(
          s, path, "doc_id", BigDecimal(25), BigDecimal(75))
        require(k1 < t1,
          s"OPTIMIZE ZORDER did not improve doc_id skipping: $k1/$t1")
        // the second z-dimension prunes too: probe the lowest decile
        val mm = Snapshots.read(s, path)
          .agg(min(col("n_chars")), max(col("n_chars"))).head()
        val (lo, hi) = (mm.getLong(0), mm.getLong(0) +
          (mm.getLong(1) - mm.getLong(0)) / 10)
        val (k2, t2) = Snapshots.skippingFileCounts(
          s, path, "n_chars", BigDecimal(lo), BigDecimal(hi))
        require(k2 < t2,
          s"OPTIMIZE ZORDER did not improve n_chars skipping: $k2/$t2")
        Snapshots.readRange(s, path, "doc_id", BigDecimal(25), BigDecimal(75))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("doc_id")).as("id_sum"),
            sum(length(col("text")).cast("long")).as("char_sum"))
      },
      Some("""
        SELECT count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum,
          CAST(sum(length(text)) AS BIGINT) AS char_sum
        FROM documents WHERE doc_id BETWEEN 25 AND 75
      """.stripMargin.trim)),

    // ── X160: DESCRIBE HISTORY — operation provenance on the commit
    //    log (sources/Snapshots.scala `describeHistory`): every commit
    //    records WHAT produced it (`_op.json` beside the manifest), and
    //    the history surface reports per-version operation, manifest
    //    file-count deltas and live DV-sidecar counts from driver-side
    //    manifest reads alone — the audit question ("what happened to
    //    this table, in order?") a 100 TB corpus owner asks before
    //    trusting a training run, answered without scanning a byte of
    //    data. The scenario drives one commit of EVERY mutation kind;
    //    the grew/shrank/dv flags are scenario-determined at any SF.
    //    FULL oracle: the expected history as a VALUES literal ──
    QueryDef(
      "x160_snapshot_history",
      (s, dir) => {
        import graft.sources.Snapshots
        val path = Scratch.forInput("snap_hist", dir)
        Snapshots.drop(s, path)
        val docs = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source"))
        Snapshots.append(
          docs.repartition(4, pmod(col("doc_id"), lit(5))), path)     // v1
        Snapshots.deleteWhereDV(s, path, col("doc_id") % 5 === 0)     // v2
        Snapshots.merge(s, path,                                       // v3
          docs.filter(col("doc_id").isin(7L, 21L))
            .select(col("doc_id"), concat(col("text"), lit(" v2"))
              .as("text"), col("source")), Seq("doc_id"))
        Snapshots.compact(s, path, targetFiles = 2)                    // v4
        Snapshots.rollback(s, path, 1)                                 // v5
        Snapshots.describeHistory(s, path)
          .select(col("version"), col("operation"),
            (col("n_files_added") > 0).as("grew"),
            (col("n_files_removed") > 0).as("shrank"),
            col("n_dv_files"))
      },
      Some("""
        SELECT * FROM (VALUES
          (CAST(1 AS BIGINT), 'append',    true,           false, CAST(0 AS BIGINT)),
          (CAST(2 AS BIGINT), 'delete-dv', false,          false, CAST(1 AS BIGINT)),
          (CAST(3 AS BIGINT), 'merge',     true,           true,  CAST(1 AS BIGINT)),
          (CAST(4 AS BIGINT), 'optimize',  true,           true,  CAST(0 AS BIGINT)),
          (CAST(5 AS BIGINT), 'restore',   true,           true,  CAST(0 AS BIGINT))
        ) AS t(version, operation, grew, shrank, n_dv_files)
      """.stripMargin.trim)),

    // ── X100: exchange reuse — one shuffle, two consumers: the per-user
    //    aggregate feeds both branches of a union, and the second branch
    //    must plan a ReusedExchange over the first's shuffle instead of
    //    recomputing it (require()-checked). The pattern every diamond-
    //    shaped pipeline leans on — without it each consumer re-scans and
    //    re-shuffles the fact table (the x69 comment's trade-off,
    //    optimizer-solved when the subtrees canonicalize equal) ──
    QueryDef(
      "x100_exchange_reuse",
      (s, dir) => {
        val agg = Tables.events(s, dir)
          .groupBy(col("user_id"))
          .agg(round(sum(col("value")), 6).as("sv"))
        val hi = agg.filter(col("sv") > 0)
          .select(lit("hi").as("side"), col("sv"))
        val lo = agg.filter(col("sv") <= 0)
          .select(lit("lo").as("side"), col("sv"))
        val out = hi.unionAll(lo).groupBy(col("side"))
          .agg(count(lit(1)).as("n_users"),
            round(sum(col("sv")), 6).as("sum_value"))
        val plan = finalAdaptivePlan(out)
        require(plan.contains("ReusedExchange"),
          s"the second union branch recomputed the aggregate shuffle:\n$plan")
        out
      },
      Some("""
        WITH a AS (
          SELECT user_id, round(sum(value), 6) AS sv FROM events GROUP BY 1
        )
        SELECT side, count(*) AS n_users, round(sum(sv), 6) AS sum_value
        FROM (
          SELECT 'hi' AS side, sv FROM a WHERE sv > 0
          UNION ALL
          SELECT 'lo' AS side, sv FROM a WHERE sv <= 0)
        GROUP BY 1
      """.stripMargin.trim)))

  /** `(version, n_docs, id_sum, text_crc_sum)` of each of `versions` of
    * the snapshot table at `path`, in version order, from one action.
    */
  private def docStats(
      s: org.apache.spark.sql.SparkSession, path: String,
      versions: Seq[Int]): Seq[(Long, Long, Long, Long)] =
    graft.sources.Snapshots.versionStats(s, path, versions)(_ => Seq(
        count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
        coalesce(sum(conv(substring(md5(col("text")), 1, 8), 16, 10)
          .cast("long")), lit(0L))))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq

  /** Execute `df`'s own QueryExecution and return the FINAL adaptive
    * plan as text — the only view that shows runtime re-plans (skew
    * splits, coalesced reads, reused stages). The caller's later
    * consumption re-executes; these proof queries are small by
    * construction.
    */
  private def finalAdaptivePlan(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.toRdd.count()
    (df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }).toString
  }

  /** The x85 harness: click events collected once and replayed through a
    * MemoryStream in three micro-batches; the streaming frame is
    * broadcast-joined per batch against the static customer dim and the
    * enriched rows land in a memory sink (aggregated batch-side). Same
    * harness caveats as x50 (`streamRangeJoin` doc): the driver-side
    * collect feeds ONLY the test stream — a deployment reads Kafka; the
    * stream-static join itself holds no state, so corpus size never
    * accumulates in the query.
    */
  private def streamStaticEnrich(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val clicks = Tables.events(s, dir)
      .filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("value").cast("double"))
      .as[(Long, Long, Double)]
      .collect().sortBy(_._1)
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey").as("user_id"), col("c_nationkey"))
    val sink = "x85_sink"
    s.catalog.dropTempView(sink)
    val mem = MemoryStream[(Long, Long, Double)]
    val q = StreamingOps.withBatchConfs(s, keepNoData = true) {
      mem.toDF().toDF("event_id", "user_id", "value")
        .join(broadcast(cust), Seq("user_id"))
        .writeStream.format("memory").queryName(sink).outputMode("append")
        .option("checkpointLocation", StreamingOps.checkpointDir("x85"))
        .start()
    }
    StreamingOps.drive(q, "x85")(
      clicks.grouped(math.max(1, (clicks.length + 2) / 3)).toSeq)(
      batch => mem.addData(batch: _*))
    s.table(sink)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_clicks"),
        round(sum(col("value")), 6).as("sum_value"),
        min(col("event_id")).as("min_event"))
  }

  /** Salted-join demo entry (x52): events fact side salted 8 ways against
    * the customer dim, revenue rolled up per nation. Results are exactly
    * the plain join's — the oracle IS the plain SQL join — while the plan
    * spreads any hot user over 8 reducers (see `Joins.saltedJoin`).
    */
  private[graft] def saltedRevenue(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("value"))
    val cust = Tables.customer(s, dir)
      .select(col("c_custkey").as("user_id"), col("c_nationkey"))
    Joins.saltedJoin(ev, cust, Seq("user_id"), salt = 8)
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 6).as("sum_value"))
  }

  /** The x50 harness: two MemoryStreams (errors / clicks) fed in three
    * time-ordered micro-batches each, joined as a REAL stream-stream
    * inner join, collected from a memory sink and aggregated batch-side.
    * Plumbing per the x30-x34 hard-learned contract (ExtraQueries
    * `streamParity` header): state partitions pinned to 2, fresh
    * RAM-backed checkpoint, internal deadline. The driver-side collect
    * feeds the harness only — a deployment reads Kafka; the join state
    * under test is watermark-bounded regardless of corpus size.
    */
  private def streamRangeJoin(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    streamRangeJoinImpl(s, dir, "inner", "x50", sentinels = false)

  /** x101: the LEFT OUTER variant — errors with no click in the band must
    * still emit (null-padded), which only happens once the watermark
    * passes the row's join window; two far-future sentinel batches on
    * BOTH streams (the global watermark is the min across sources) force
    * that flush, the x33 sentinel-closure device applied to outer joins.
    */
  private def streamOuterRangeJoin(
      s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame =
    streamRangeJoinImpl(s, dir, "left_outer", "x101", sentinels = true)

  private def streamRangeJoinImpl(
      s: org.apache.spark.sql.SparkSession, dir: String,
      joinType: String, tag: String, sentinels: Boolean)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val ev = Tables.events(s, dir)
    def side(tp: String): Array[(Long, Long, Long, Double)] = ev
      .filter(col("event_type") === tp)
      .select(col("event_id"), col("user_id"), col("ts"),
        col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
      .collect().sortBy(_._3) // arrival ≈ event order → monotone watermark
    val errs = side("error")
    val clicks = side("click")
    def chunks(a: Array[(Long, Long, Long, Double)]) =
      a.grouped(math.max(1, math.ceil(a.length / 3.0).toInt))
        .map(_.toSeq).toSeq
    // the same far-future sentinel row on both streams, twice
    val sentinelPairs = if (!sentinels) Seq.empty else {
      val dayNs = 86400000000000L
      val maxT = (errs ++ clicks).map(_._3).max
      Seq(maxT + 2 * dayNs, maxT + 4 * dayNs).map { t =>
        val b = Seq((-1L, -1L, t, 0.0)); (b, b)
      }
    }
    val sink = s"${tag}_sink"
    s.catalog.dropTempView(sink) // re-invocation safety (smoke tests)
    val memE = MemoryStream[(Long, Long, Long, Double)]
    val memC = MemoryStream[(Long, Long, Long, Double)]
    val q =
      StreamingOps.withBatchConfs(s) {
        // each side buffers only what the output needs — join state holds
        // full rows, so the payload is trimmed before the watermark
        def in(m: MemoryStream[(Long, Long, Long, Double)], p: String,
               keep: Seq[String]) =
          m.toDF().toDF("event_id", "user_id", "t", "value")
            .withColumn("event_time", timestamp_micros(expr("t div 1000")))
            .withWatermark("event_time", "1 second")
            .select((keep :+ "event_time").map(c => col(c).as(s"$p$c")): _*)
        val e = in(memE, "e_", Seq("event_id", "user_id"))
        val c = in(memC, "c_", Seq("user_id", "value"))
        // The band lives ENTIRELY on the event-time columns: that is the
        // condition shape StreamingJoinHelper derives tight state-eviction
        // watermarks from (any non-time conjunct makes it log an
        // INTERNAL_ERROR fallback per micro-batch — even a post-join
        // filter gets pushed back into the condition). The op is thereby
        // defined at µs resolution — lossless here (epoch-nanos ts values
        // are µs-grained), and the oracle matches via epoch_us.
        e.join(c,
            col("e_user_id") === col("c_user_id") &&
              col("c_event_time") > col("e_event_time") - expr("interval 24 hours") &&
              col("c_event_time") <= col("e_event_time"),
            joinType)
          .select(col("e_event_id"), col("e_user_id"), col("c_value"))
          .writeStream.format("memory").queryName(sink)
          .option("checkpointLocation", StreamingOps.checkpointDir(tag))
          .outputMode("append").start()
      }
    StreamingOps.drive(q, tag)(
      chunks(errs).zipAll(chunks(clicks), Seq.empty, Seq.empty) ++ sentinelPairs) {
      case (eb, cb) =>
        if (eb.nonEmpty) memE.addData(eb: _*)
        if (cb.nonEmpty) memC.addData(cb: _*)
    }
    s.table(sink)
      .filter(col("e_user_id") =!= -1L)
      .groupBy(col("e_event_id").as("event_id"),
        col("e_user_id").as("user_id"))
      // count(c_value) counts MATCHED rows only — identical to count(*)
      // for the inner variant (clicks never carry null values) and the
      // outer contract (an unmatched error's single null row counts 0)
      .agg(count(col("c_value")).as("n_recent_clicks"),
        round(sum(col("c_value")), 6).as("sum_click_value"))
  }
}
