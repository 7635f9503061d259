package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.config.GraphConfig
import graft.functions.{GraftFunctions => GF, VectorFunctions => VF}
import graft.operators._
import graft.streaming.StreamingIngest

/** sources, projection, joins (incl. as-of/range), merge/union, aggregates, windows, set ops, CDC, graph build — one slice of the [[SparkEntry]] driver contract
  * (42 queries). Chunks moved verbatim from SparkEntry.scala;
  * the assembled `queries`/`oracleSql` maps are unchanged. */
private[graft] object QueriesEtl {
  import EntryData._
  import OracleCtes._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- S2: schema-peek scan (limit pushed into the scan) ----
    "q_s2_schema_peek" -> ((s, dir) =>
      t(s, dir, "customer").orderBy("c_custkey").limit(1)),

    // ---- S3: full-table scan ----
    "q_s3_scan_region" -> ((s, dir) =>
      t(s, dir, "region").orderBy("r_regionkey")),

    // ---- P1/P2: field-alignment projection with null-fill ----
    "q_p1_project_nullfill" -> ((s, dir) => {
      val target = graft.plans.SchemaMerge.mergeFields(Seq(
        t(s, dir, "customer").schema,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("extra_field",
            org.apache.spark.sql.types.StringType)))))
      NodePipeline.projectToSchema(t(s, dir, "customer"), target)
        .orderBy("c_custkey")
    }),

    // ---- A1+A3+A2: schema merge, multi-source union, merge-by-id ----
    "q_a2_union_merge" -> ((s, dir) => {
      val src0 = t(s, dir, "customer").select("c_custkey", "c_name")
      val src1 = t(s, dir, "orders").groupBy(col("o_custkey").as("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")).as("total_spent"))
      NodePipeline.buildNodeTable(Seq(src0, src1), "c_custkey")
        .select(col("c_custkey"), col("c_name"), col("n_orders"),
          round(col("total_spent"), 2).as("total_spent"))
        .orderBy("c_custkey")
    }),

    // ---- J1: foreign_key relationship join ----
    "q_j1_fk_edges" -> ((s, dir) =>
      RelPipeline.foreignKeyEdges(
        t(s, dir, "customer"), "c_custkey", "c_custkey",
        t(s, dir, "orders"), "o_custkey", "o_orderkey",
        endProps = Seq("o_totalprice"))
        .orderBy("start_id", "end_id")),

    // ---- J1b: fk join where the join key ≠ the start node's id — start_id
    // must resolve to the Customer id (c_custkey), not the nation fk; edge
    // props carried from BOTH sides ----
    "q_j1b_fk_edges_resolved" -> ((s, dir) =>
      RelPipeline.foreignKeyEdges(
        t(s, dir, "customer"), "c_nationkey", "c_custkey",
        t(s, dir, "nation"), "n_nationkey", "n_nationkey",
        startProps = Seq("c_mktsegment"), endProps = Seq("n_name"))
        .orderBy("start_id", "end_id")),

    // ---- J2: join_table relationship with endpoint validation ----
    "q_j2_jointable_edges" -> ((s, dir) =>
      RelPipeline.joinTableEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "part"), "p_partkey")
        .distinct()
        .orderBy("start_id", "end_id")),

    // ---- J2b: join_table edges carrying edge properties ----
    "q_j2b_jointable_props" -> ((s, dir) =>
      RelPipeline.joinTableEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        t(s, dir, "orders"), "o_orderkey",
        t(s, dir, "part"), "p_partkey",
        props = Seq("l_linenumber", "l_quantity"))
        .select(col("start_id"), col("end_id"),
          col("l_linenumber").cast("long").as("l_linenumber"),
          round(col("l_quantity"), 2).as("l_quantity"))
        .orderBy("start_id", "end_id", "l_linenumber")),

    // ---- J3/QC: dangling-edge anti-join report ----
    "q_j3_dangling_edges" -> ((s, dir) =>
      RelPipeline.danglingEdges(
        events(s, dir), "user_id", "user_id",
        t(s, dir, "customer"), "c_custkey",
        t(s, dir, "supplier"), "s_suppkey")
        .groupBy("reason").agg(count(lit(1)).as("n"))
        .orderBy("reason")),

    // ---- full config-compiled graph build + A4 stats ----
    "q_graph_build" -> ((s, dir) => graphBuild(s, dir)),

    // ---- A4: aggregation suite over the fact table (TPC-H Q1 shape) ----
    "q_q1_agg" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // ---- multi-way join + agg (broadcast dims) ----
    "q_revenue_per_nation" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = t(s, dir, "customer")
      val n = t(s, dir, "nation")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // ---- set ops: intersect / except (reference had only union — A3) ----
    "q_set_ops" -> ((s, dir) => {
      val buyers = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val machinery = t(s, dir, "customer")
        .filter(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey").as("k"))
      val both = machinery.intersect(buyers)
        .select(lit("machinery_buyer").as("set_kind"), col("k"))
      val dormant = machinery.except(buyers)
        .select(lit("machinery_no_orders").as("set_kind"), col("k"))
      both.unionByName(dormant).orderBy("set_kind", "k")
    }),

    // ---- pivot: long→wide aggregation ----
    "q_pivot_status" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("o_orderpriority"), col("F").as("n_f"),
          col("O").as("n_o"), col("P").as("n_p"))
        .orderBy("o_orderpriority")),

    // ---- window: top-k per group ----
    "q_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    }),

    // ---- A4b: sketch aggregates (HLL) — implementation-specific values,
    // rows-only gate BY DESIGN (documented no_oracle floor): HLL
    // register contents are engine-private, so the correctness story is
    // AggregatesSpec's error-bound property test (estimate within the
    // published HLL rel-error of the exact distinct count) — do not
    // re-litigate; there is no portable value to hash-compare. ----
    "q_a4b_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .agg(
          approx_count_distinct(col("l_partkey")).as("approx_parts"),
          approx_count_distinct(col("l_orderkey")).as("approx_orders"),
          count(lit(1)).as("n_rows"))),

    // ---- cube: multi-dimensional aggregate (subtotals + grand total) ----
    "q_cube_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")),

    // ---- rollup: hierarchical subtotals (the cube sibling — prefix
    // groupings only) ----
    "q_rollup_orders" -> ((s, dir) =>
      t(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("total"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          col("n"), col("total"))
        .orderBy("status", "priority")),

    // ---- window: running total (frame-bounded window function) ----
    "q_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum("o_totalprice").over(w), 2).as("running_total"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // ---- §2.5+: event-time RANGE window — per-user rolling 1-hour
    // count/sum (the per-entity feature-engineering staple; rows-frame
    // running totals are q_window_running). Epoch seconds via integer
    // floor on both engines (the q_st2b rounding trap). ----
    "q_window_rolling_time" -> ((s, dir) => {
      val e = events(s, dir).select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("es"), col("value"))
      val w = Window.partitionBy("user_id").orderBy("es")
        .rangeBetween(-3600, Window.currentRow)
      e.select(col("event_id"), col("user_id"), col("es"),
          count(lit(1)).over(w).as("n_1h"),
          round(sum("value").over(w), 2).as("sum_1h"))
        .orderBy("user_id", "es", "event_id")
    }),

    // ---- J7: co-occurrence edges — parts sharing an order, baskets
    // wider than 10 distinct parts excluded (reported via the overflow
    // frame, spec-checked), pairs seen ≥ 2 times kept ----
    "q_j7_cooccurrence" -> ((s, dir) => {
      val (edges, _) = RelPipeline.cooccurrenceEdges(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        maxGroupSize = 10, minCount = 2L)
      edges.orderBy("start_id", "end_id")
    }),

    // ---- J8: association rules over the J7 baskets — directed
    // confidence/lift with the probability universe = the gated baskets;
    // strengths e6-integerized, counts exact ----
    "q_j8_assoc_rules" -> ((s, dir) => {
      val (rules, _) = RelPipeline.associationRules(
        t(s, dir, "lineitem"), "l_orderkey", "l_partkey",
        maxGroupSize = 10, minCount = 2L, minConfidence = 0.08)
      rules.select(col("antecedent"), col("consequent"), col("pair_n"),
          col("ante_n"), col("cons_n"), col("n_baskets"),
          floor(col("support") * lit(1e6) + lit(0.5)).cast("long")
            .as("support_e6"),
          floor(col("confidence") * lit(1e6) + lit(0.5)).cast("long")
            .as("conf_e6"),
          floor(col("lift") * lit(1e6) + lit(0.5)).cast("long")
            .as("lift_e6"))
        .orderBy("antecedent", "consequent")
    }),

    // ---- F1: ascii_fold native expression (no ANSI equivalent) ----
    "q_f1_ascii_fold" -> ((s, dir) => {
      GF.register(s)
      t(s, dir, "documents")
        .select(col("doc_id"),
          GF.ascii_fold(concat(lit("Café—"), col("text"))).as("folded"))
        .orderBy("doc_id")
    }),

    // ---- histogram: fixed-width value binning (corpus statistics the
    // reference's post-import Cypher would do) ----
    "q_histogram_prices" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select((floor(col("l_extendedprice") / 5000) * 5000)
          .cast("long").as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    // ---- as-of join: point-in-time lookup (custom composed operator) ----
    "q_asof_join" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "tsu")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu"),
          round(col("value"), 2).as("purchase_value"),
          col("tsu").as("purchase_tsu"))
      AsOfJoin.asofJoin(clicks, purchases, Seq("user_id"), "tsu",
        Seq("purchase_value", "purchase_tsu"))
        .orderBy("event_id")
    }),

    // ---- J4d: FORWARD as-of join — first purchase at or after each
    // click (next-scheduled-event direction); DuckDB's native ASOF
    // with the inequality flipped is the oracle. ----
    "q_asof_forward" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "tsu")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu"),
          round(col("value"), 2).as("purchase_value"),
          col("tsu").as("purchase_tsu"))
      AsOfJoin.asofJoinForward(clicks, purchases, Seq("user_id"), "tsu",
        Seq("purchase_value", "purchase_tsu"))
        .orderBy("event_id")
    }),

    // ---- J4e: NEAREST as-of join — smallest |Δts| purchase per
    // click, backward on exact ties (the pandas merge_asof
    // "nearest" convention); oracle: LATERAL argmin ordered by
    // (|Δ|, ts). ----
    "q_asof_nearest" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "tsu")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu"),
          round(col("value"), 2).as("purchase_value"),
          col("tsu").as("purchase_tsu"))
      AsOfJoin.asofJoinNearest(clicks, purchases, Seq("user_id"), "tsu",
        Seq("purchase_value", "purchase_tsu"))
        .orderBy("event_id")
    }),

    // ---- as-of join, hot-key-salted variant: same semantics, window
    // partitioned by (key, ts-range bucket) so one hot key parallelizes ----
    "q_asof_join_salted" -> ((s, dir) => {
      val ev = events(s, dir).select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("tsu"), col("event_type"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "tsu")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("tsu"),
          round(col("value"), 2).as("purchase_value"),
          col("tsu").as("purchase_tsu"))
      AsOfJoin.asofJoinSalted(clicks, purchases, Seq("user_id"), "tsu",
        Seq("purchase_value", "purchase_tsu"), numBuckets = 16)
        .orderBy("event_id")
    }),

    // ---- range join: point-in-interval via bucketed equi-join ----
    "q_range_join" -> ((s, dir) => {
      import s.implicits._
      val bands = Seq((1L, 0.0, 120.0), (2L, 100.0, 260.0), (3L, 250.0, 1000.0))
        .toDF("band_id", "lo", "hi")
      RangeJoin.pointInInterval(
        t(s, dir, "part"), "p_retailprice", bands, "lo", "hi",
        bucketWidth = 50.0)
        .select(col("p_partkey"), col("band_id"))
        .orderBy("p_partkey", "band_id")
    }),

    // ---- J6: interval-OVERLAP join (both sides intervals) — bucketed
    // equi-join with canonical-bucket dedup-free pair emission; the
    // all-pairs SQL oracle certifies the bucketing loses nothing AND
    // duplicates nothing. Intervals derive deterministically from
    // shipdate + keyed length ----
    "q_j6_interval_overlap" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def side(m: Int, p: String) = {
        val d0 = unix_date(to_date(col("l_shipdate"))).cast("long")
        li.filter(col("l_orderkey") % 120 === m)
          .select(col("l_orderkey").as(s"${p}_ok"),
            col("l_linenumber").cast("long").as(s"${p}_ln"),
            d0.as(s"${p}_s"),
            (d0 + col("l_orderkey") % 20 + 3).as(s"${p}_e"))
      }
      RangeJoin.intervalOverlapJoin(
          side(0, "a"), "a_s", "a_e", side(7, "b"), "b_s", "b_e",
          bucketWidth = 16.0)
        .orderBy("a_ok", "a_ln", "b_ok", "b_ln")
    }),

    // ---- F4: JSON property extraction (semi-structured columns) ----
    "q_json_props" -> ((s, dir) =>
      events(s, dir)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
          round(avg("k"), 4).as("avg_k"))
        .orderBy("event_type")),

    // ---- F4: date-part extraction + aggregation ----
    "q_date_parts" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"))
        .agg(count(lit(1)).as("n"),
          round(sum("o_totalprice"), 2).as("total"))
        .orderBy("y", "m")),

    // ---- CDC: snapshot diff between two deterministic "snapshots"
    // derived from orders (drop-by-modulus + an exact +1.0 price bump)
    // so the diff exercises all four classes; compared doubles are
    // either passed through or shifted by an exactly-representable
    // amount — no rounding needed for the hash compare. ----
    "q_cdc_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val prev = o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val cur = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      SnapshotDiff.diff(prev, cur, "o_orderkey")
        .orderBy("o_orderkey")
    }),

    "q_cdc_stats" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val prev = o.filter(col("o_orderkey") % 10 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val cur = o.filter(col("o_orderkey") % 7 =!= 0)
        .select(col("o_orderkey"), col("o_orderstatus"),
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")).as("o_totalprice"))
      SnapshotDiff.diffStats(prev, cur, "o_orderkey")
        .orderBy("change")
    }),

    // ---- L1: Z-order (Morton) layout — the Delta/Iceberg OPTIMIZE
    // ZORDER BY discipline as an operator: exact integer
    // normalization (div, never a rounded double) against corpus
    // min/max, bit-interleave, fixed z-range buckets. The stats pass
    // runs over the WHOLE table (the layout is corpus-global); output
    // bounded by the orderkey filter. ----
    "q_l1_zorder_layout" -> ((s, dir) =>
      Layout.zOrderLayout(t(s, dir, "lineitem"),
          Seq("l_partkey", "l_suppkey"), bits = 8, nBuckets = 16)
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          col("_z").as("zval"), col("_bucket").as("bucket"))
        // total order: (orderkey, linenumber) is NOT unique in the
        // synthetic lineitem — ties must sort identically on both
        // engines, and rows tied on all four keys are fully identical
        .orderBy("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")),

    // ---- L3: Hilbert-curve layout — the better-locality clustering
    // (every unit step on the curve is a unit step on the grid, so
    // bucket envelopes are tighter than Z-order's quadrant seams);
    // the canonical xy2d state machine unrolled one level per column,
    // mirrored level-for-level by the oracle's chained CTEs. ----
    "q_l3_hilbert_layout" -> ((s, dir) =>
      Layout.hilbertLayout(t(s, dir, "lineitem"),
          "l_partkey", "l_suppkey", bits = 8, nBuckets = 16)
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          col("_h").as("hval"), col("_bucket").as("bucket"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")),

    // ---- L4: manifest-driven pruned scan — the layout loop CLOSED:
    // the z-ordered store is written bucket-partitioned with its
    // per-file stats manifest as snapshot v1 (cached fixture — this
    // row times the serving path), the box predicate prunes files from
    // the manifest, and only surviving files are read. A green
    // row certifies the pruning rule is lossless end to end: the
    // pruned read equals the oracle's full-table filter. ----
    "q_l4_pruned_scan" -> ((s, dir) =>
      Layout.prunedScan(s, l4LayoutDir(s, dir),
          Seq(("l_partkey", 10L, 50L), ("l_suppkey", 2L, 5L)))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          col("_bucket").cast("long").as("bucket"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")),

    // ---- L5: layout APPEND maintenance — the maintenance-grid
    // discipline for the layout store: the base store (the
    // l_orderkey%3≠0 two-thirds, cached fixture) is copied and the
    // held-out third appended with the STORE'S ORIGINAL anchors
    // (persisted in `_meta`) as snapshot v2, whose manifest adds the
    // new files' stats. The pruned scan over the appended store must
    // return the full-table filter — losslessness survives
    // maintenance. Bucket assignment for EVERY row replays in the
    // oracle with base-subset anchors + clamping. ----
    "q_l5_layout_append" -> ((s, dir) =>
      Layout.prunedScan(s, l5AppendedLayoutDir(s, dir),
          Seq(("l_partkey", 10L, 50L), ("l_suppkey", 2L, 5L)))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          col("_bucket").cast("long").as("bucket"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")),

    // ---- L6: layout ERASURE maintenance — the right-to-erasure path
    // composed onto the append row (the g25g batch-composition
    // discipline): the appended store takes down every l_orderkey
    // %10==7 row (only touched buckets rewrite, their manifest rows
    // recount), then the pruned scan must return the full-table
    // filter minus the erased orders. ----
    "q_l6_layout_erasure" -> ((s, dir) => {
      val store = l5AppendedLayoutDir(s, dir)
      Layout.deleteFromLayout(s, store,
        t(s, dir, "lineitem")
          .filter(col("l_orderkey") % 10 === 7)
          .select("l_orderkey"), "l_orderkey")
      Layout.prunedScan(s, store,
          Seq(("l_partkey", 10L, 50L), ("l_suppkey", 2L, 5L)))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          col("_bucket").cast("long").as("bucket"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")
    }),

    // ---- L7: K-DIMENSIONAL Hilbert layout (Skilling transform) —
    // 3 clustered columns, the realistic lakehouse case beyond the
    // 2-D xy2d state machine; the oracle replays the published
    // algorithm mutation by mutation in generated CTEs. ----
    "q_l7_hilbert3_layout" -> ((s, dir) =>
      Layout.hilbertLayoutK(t(s, dir, "lineitem"),
          Seq("l_partkey", "l_suppkey", "l_linenumber"), bits = 4,
          nBuckets = 8)
        .filter(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          col("_h").as("hval"), col("_bucket").as("bucket"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")),

    // ---- L9: k-D Hilbert APPEND maintenance — the q_l5 discipline
    // on the SKILLING curve (r13's k-D stores were append-orphaned):
    // the 3-column base store (l_orderkey%3≠0, cached fixture) is
    // copied, the held-out third appended under the store's persisted
    // _meta anchors (curve=hilbertk validated against the identity),
    // and the pruned scan over the maintained store must return the
    // full-table filter — bucket assignment for EVERY row replays in
    // the oracle with base-subset anchors + clamping through the
    // generated Skilling CTEs. ----
    "q_l9_hilbert3_append" -> ((s, dir) =>
      Layout.prunedScan(s, l9AppendedLayoutDir(s, dir),
          Seq(("l_partkey", 10L, 50L), ("l_suppkey", 2L, 5L)))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          col("_bucket").cast("long").as("bucket"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")),

    // ---- L10: POINT-LOOKUP pruning via the manifest's membership
    // sketch — the commonest lakehouse read a min/max manifest can't
    // serve: find one id in a store clustered on OTHER columns. The
    // store records a per-file bloom on l_orderkey (writeLayout
    // bloomCols); prunedScan's equality predicate probes it and opens
    // only maybe-present files (a negative probe is a PROOF of
    // absence — skips stay lossless). The oracle is the full-table
    // filter: pruning must be semantically invisible. LayoutSpec
    // asserts the bucket-open count actually collapses. ----
    "q_l10_bloom_point_lookup" -> ((s, dir) =>
      Layout.prunedScan(s, l10BloomLayoutDir(s, dir), Nil,
          points = Seq(("l_orderkey", 7L)))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          col("_bucket").cast("long").as("bucket"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")),

    // ---- L11: VERSIONED manifests — the snapshot-isolation
    // milestone: the base store's build committed v1, an append
    // publishes v2, an erasure publishes v3, and THEN the row reads
    // BOTH v1 and v3 through per-file pruned scans. v1's
    // leg must equal the pre-maintenance corpus filter (the erasure
    // rewrote its buckets' live rows, but v1's files are immutable —
    // pinned readers need no localCheckpoint discipline); v3's leg
    // must equal the appended-minus-erased corpus filter. ----
    "q_l11_versioned_scan" -> ((s, dir) => {
      val store = l11VersionedLayoutDir(s, dir)
      def leg(v: Long, tag: String) =
        Layout.prunedScan(s, store,
          Seq(("l_partkey", 10L, 50L), ("l_suppkey", 2L, 5L)),
          version = v)
          .select(lit(tag).as("ver"), col("l_orderkey"),
            col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      leg(1L, "v1").unionByName(leg(3L, "v3"))
        .orderBy("ver", "l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")
    }),

    // ---- L12: versioned POINT lookup — L10's membership-sketch
    // pruning composed with L11's snapshot isolation: the erased
    // order must still serve at the pinned v1 (immutable files, old
    // sketch intact) and must be GONE at v2, where the touched
    // bucket's rewritten file carries a recounted sketch (OR-union
    // could never un-set bits — the rewrite is what makes the
    // negative probe a proof again). ----
    "q_l12_versioned_point" -> ((s, dir) => {
      val store = l12VersionedBloomDir(s, dir)
      def leg(v: Long, tag: String) =
        Layout.prunedScan(s, store, Nil,
          points = Seq(("l_orderkey", 7L)), version = v)
          .select(lit(tag).as("ver"), col("l_orderkey"),
            col("l_linenumber"), col("l_partkey"), col("l_suppkey"))
      leg(1L, "v1").unionByName(leg(2L, "v2"))
        .orderBy("ver", "l_orderkey", "l_linenumber", "l_partkey",
          "l_suppkey")
    }),

    // ---- L2: file-skipping stats + verdicts — the parquet footer
    // min/max envelope each written bucket would carry, and the
    // row-group pruning rule (skip iff any queried column's envelope
    // misses its range) for a 2-D box predicate; a green row
    // certifies the whole layout→stats→prune pipeline end to end. ----
    "q_l2_skipping_stats" -> ((s, dir) =>
      Layout.skippingVerdicts(
          Layout.fileSkippingStats(
            Layout.zOrderLayout(t(s, dir, "lineitem"),
              Seq("l_partkey", "l_suppkey"), bits = 8, nBuckets = 16),
            "_bucket", Seq("l_partkey", "l_suppkey")),
          Seq(("l_partkey", 10L, 50L), ("l_suppkey", 2L, 5L)))
        .orderBy("bucket")),
  )

  /** Shared oracle CTE chain for the two layout rows: corpus min/max
    * stats, exact `//` normalization to 8 bits, the 16-term Morton
    * interleave (generated so the bit positions can never drift from
    * [[graft.operators.Layout.zValue]]), fixed z-range buckets. Ends
    * at `zb(l_orderkey, l_linenumber, l_partkey, l_suppkey, zval,
    * bucket)`. */
  private lazy val zorderCtes: String =
    zorderCtesFor("lineitem", clamp = false)

  /** Parameterized z-order chain: `statsSrc` is the relation the
    * normalization ANCHORS come from (the corpus the store was BUILT
    * on — q_l5's append contract pins them to the base subset), and
    * `clamp` wraps each value in greatest/least against the anchors
    * (mirroring [[graft.operators.Layout.appendToLayout]]'s
    * out-of-domain clamping; a no-op for in-domain rows, so it is
    * safe to apply uniformly). */
  private def zorderCtesFor(statsSrc: String,
      clamp: Boolean): String = {
    val terms = (0 until 8).map(i =>
      s"(((np >> $i) & 1) << ${2 * i}) | (((ns >> $i) & 1) << ${2 * i + 1})")
      .mkString(" | ")
    def v(c: String, mn: String, mx: String) =
      if (!clamp) s"CAST($c AS BIGINT)"
      else s"greatest(least(CAST($c AS BIGINT), $mx), $mn)"
    s"""WITH st AS (
       |  SELECT CAST(min(l_partkey) AS BIGINT) AS mnp,
       |    CAST(max(l_partkey) AS BIGINT) AS mxp,
       |    CAST(min(l_suppkey) AS BIGINT) AS mns,
       |    CAST(max(l_suppkey) AS BIGINT) AS mxs
       |  FROM $statsSrc),
       |nm AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |    CASE WHEN mxp = mnp THEN 0 ELSE
       |      (${v("l_partkey", "mnp", "mxp")} - mnp) * 255 // (mxp - mnp)
       |    END AS np,
       |    CASE WHEN mxs = mns THEN 0 ELSE
       |      (${v("l_suppkey", "mns", "mxs")} - mns) * 255 // (mxs - mns)
       |    END AS ns
       |  FROM lineitem, st),
       |zb AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |    ($terms) AS zval,
       |    (($terms) * 16) // 65536 AS bucket
       |  FROM nm)""".stripMargin
  }

  /** The Hilbert oracle: normalization per [[zorderCtes]], then the
    * canonical xy2d state machine as one chained CTE per level
    * (s = 128 down to 1) — quadrant digit `(3·rx) xor ry` weighted
    * s², reflect-and-swap into the sub-quadrant frame — generated so
    * the rotation can never drift from
    * [[graft.operators.Layout.withHilbert]]. Ends at
    * `hb(l_orderkey, l_linenumber, l_partkey, l_suppkey, hval,
    * bucket)`. */
  private lazy val hilbertCtes: String = {
    val n1 = (1L << 8) - 1L // 255: the reflection constant
    val levels = (0 until 8).map { k =>
      val s = 1L << (7 - k)
      s"""h${k + 1} AS (
         |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |    d + ${s * s} * xor(3 * rx, ry) AS d,
         |    CASE WHEN ry = 0 THEN
         |        (CASE WHEN rx = 1 THEN $n1 - y ELSE y END)
         |      ELSE x END AS x,
         |    CASE WHEN ry = 0 THEN
         |        (CASE WHEN rx = 1 THEN $n1 - x ELSE x END)
         |      ELSE y END AS y
         |  FROM (SELECT *,
         |      CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END AS rx,
         |      CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END AS ry
         |    FROM h$k))""".stripMargin
    }.mkString(",\n")
    s"""WITH st AS (
       |  SELECT CAST(min(l_partkey) AS BIGINT) AS mnp,
       |    CAST(max(l_partkey) AS BIGINT) AS mxp,
       |    CAST(min(l_suppkey) AS BIGINT) AS mns,
       |    CAST(max(l_suppkey) AS BIGINT) AS mxs
       |  FROM lineitem),
       |h0 AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |    CASE WHEN mxp = mnp THEN 0 ELSE
       |      (CAST(l_partkey AS BIGINT) - mnp) * 255 // (mxp - mnp)
       |    END AS x,
       |    CASE WHEN mxs = mns THEN 0 ELSE
       |      (CAST(l_suppkey AS BIGINT) - mns) * 255 // (mxs - mns)
       |    END AS y,
       |    CAST(0 AS BIGINT) AS d
       |  FROM lineitem, st),
       |$levels,
       |hb AS (
       |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       |    d AS hval, (d * 16) // 65536 AS bucket
       |  FROM h8)""".stripMargin
  }

  /** The k=3 Hilbert oracle: the Skilling transform mirrored mutation
    * by mutation — per bit plane (8, 4, 2) an X0-invert CTE then one
    * exchange CTE per remaining axis (the exchange mask t computed in
    * a subquery exactly like the engine's `_t` column), then the
    * sequential Gray decode, the trailing-axis correction, and the
    * 12-term transpose interleave. Generated so the step order (which
    * the algorithm depends on) can never drift from
    * [[graft.operators.Layout.withHilbertK]]. Normalizes lineitem
    * (l_partkey, l_suppkey, l_linenumber) to 4 bits; ends at
    * `hb(l_orderkey, l_linenumber, l_partkey, l_suppkey, hval,
    * bucket)`. */
  private lazy val hilbert3Ctes: String =
    hilbert3CtesFor("lineitem", clamp = false)

  /** Parameterized k=3 chain, mirroring [[zorderCtesFor]]: `statsSrc`
    * pins the normalization ANCHORS to the corpus the store was BUILT
    * on (q_l9's append contract), `clamp` mirrors
    * [[graft.operators.Layout.appendToLayout]]'s out-of-domain
    * clamping (a no-op in-domain, so safe to apply uniformly). */
  private def hilbert3CtesFor(statsSrc: String,
      clamp: Boolean): String = {
    def v(c: String, mn: String, mx: String) =
      if (!clamp) s"CAST($c AS BIGINT)"
      else s"greatest(least(CAST($c AS BIGINT), $mx), $mn)"
    val sb = new StringBuilder
    sb.append(
      s"""WITH st AS (
        |  SELECT CAST(min(l_partkey) AS BIGINT) AS mnp,
        |    CAST(max(l_partkey) AS BIGINT) AS mxp,
        |    CAST(min(l_suppkey) AS BIGINT) AS mns,
        |    CAST(max(l_suppkey) AS BIGINT) AS mxs,
        |    CAST(min(l_linenumber) AS BIGINT) AS mnl,
        |    CAST(max(l_linenumber) AS BIGINT) AS mxl
        |  FROM $statsSrc),
        |s0 AS (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    CASE WHEN mxp = mnp THEN 0 ELSE
        |      (${v("l_partkey", "mnp", "mxp")} - mnp) * 15 // (mxp - mnp)
        |    END AS x0,
        |    CASE WHEN mxs = mns THEN 0 ELSE
        |      (${v("l_suppkey", "mns", "mxs")} - mns) * 15 // (mxs - mns)
        |    END AS x1,
        |    CASE WHEN mxl = mnl THEN 0 ELSE
        |      (${v("l_linenumber", "mnl", "mxl")} - mnl) * 15 // (mxl - mnl)
        |    END AS x2
        |  FROM lineitem, st)""".stripMargin)
    val keys = "l_orderkey, l_linenumber, l_partkey, l_suppkey"
    var step = 0
    def next(body: String): Unit = {
      step += 1
      sb.append(s",\ns$step AS (\n$body\n  FROM s${step - 1})")
    }
    for (q <- Seq(8L, 4L, 2L)) {
      val p = q - 1
      // i = 0: invert only (the self-exchange mask is zero)
      next(s"""  SELECT $keys,
              |    CASE WHEN (x0 & $q) <> 0 THEN xor(x0, $p)
              |      ELSE x0 END AS x0, x1, x2""".stripMargin)
      for (i <- 1 until 3) {
        val xi = s"x$i"
        val others = (1 until 3).filter(_ != i).map(j => s"x$j")
        step += 1
        sb.append(s""",
           |s$step AS (
           |  SELECT $keys,
           |    CASE WHEN ($xi & $q) <> 0 THEN xor(x0, $p)
           |      ELSE xor(x0, _t) END AS x0,
           |    xor($xi, _t) AS $xi, ${others.mkString(", ")}
           |  FROM (SELECT *,
           |      CASE WHEN ($xi & $q) <> 0 THEN 0
           |        ELSE xor(x0, $xi) & $p END AS _t
           |    FROM s${step - 1}))""".stripMargin)
      }
    }
    // sequential Gray decode, then the trailing-axis correction
    next(s"""  SELECT $keys, x0, xor(x1, x0) AS x1, x2""")
    next(s"""  SELECT $keys, x0, x1, xor(x2, x1) AS x2""")
    val tExpr = Seq(8L, 4L, 2L).map(q =>
      s"(CASE WHEN (x2 & $q) <> 0 THEN ${q - 1} ELSE 0 END)")
      .reduce((a, b) => s"xor($a, $b)")
    step += 1
    sb.append(s""",
       |s$step AS (
       |  SELECT $keys, xor(x0, _gt) AS x0, xor(x1, _gt) AS x1,
       |    xor(x2, _gt) AS x2
       |  FROM (SELECT *, $tExpr AS _gt FROM s${step - 1}))"""
      .stripMargin)
    val terms = (for { i <- 0 until 3; b <- 0 until 4 } yield
      s"(((x$i >> $b) & 1) << ${b * 3 + (2 - i)})").mkString(" | ")
    sb.append(s""",
       |hb AS (
       |  SELECT $keys, ($terms) AS hval,
       |    (($terms) * 8) // 4096 AS bucket
       |  FROM s$step)""".stripMargin)
    sb.toString
  }

  def oracles: Map[String, String] = Map(
    "q_l7_hilbert3_layout" ->
      s"""$hilbert3Ctes
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(hval AS BIGINT) AS hval, CAST(bucket AS BIGINT) AS bucket
         |FROM hb WHERE l_orderkey < 200
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
        .stripMargin,

    // k-D append: the Skilling chain with anchors pinned to the BASE
    // subset and appendToLayout's clamp; result = the full-table
    // filter with every bucket re-derived.
    "q_l9_hilbert3_append" ->
      s"""${hilbert3CtesFor(
            "(SELECT * FROM lineitem WHERE l_orderkey % 3 <> 0)",
            clamp = true)}
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(bucket AS BIGINT) AS bucket
         |FROM hb
         |WHERE l_partkey BETWEEN 10 AND 50 AND l_suppkey BETWEEN 2 AND 5
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
        .stripMargin,

    // Appended-store pruned scan: anchors pinned to the BASE subset
    // (the store's build corpus), every value clamped against them
    // (no-op in-domain), result = the full-table filter.
    "q_l5_layout_append" ->
      s"""${zorderCtesFor(
            "(SELECT * FROM lineitem WHERE l_orderkey % 3 <> 0)",
            clamp = true)}
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(bucket AS BIGINT) AS bucket
         |FROM zb
         |WHERE l_partkey BETWEEN 10 AND 50 AND l_suppkey BETWEEN 2 AND 5
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
        .stripMargin,

    // Post-erasure pruned scan: the append oracle minus the erased
    // orders.
    "q_l6_layout_erasure" ->
      s"""${zorderCtesFor(
            "(SELECT * FROM lineitem WHERE l_orderkey % 3 <> 0)",
            clamp = true)}
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(bucket AS BIGINT) AS bucket
         |FROM zb
         |WHERE l_partkey BETWEEN 10 AND 50 AND l_suppkey BETWEEN 2 AND 5
         |  AND l_orderkey % 10 <> 7
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
        .stripMargin,

    // The pruned scan must return exactly the full-table filter (the
    // conservative pruning rule is lossless); bucket assignment is
    // re-derived through the shared z-order chain.
    "q_l4_pruned_scan" ->
      s"""$zorderCtes
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(bucket AS BIGINT) AS bucket
         |FROM zb
         |WHERE l_partkey BETWEEN 10 AND 50 AND l_suppkey BETWEEN 2 AND 5
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
        .stripMargin,

    // Bloom pruning is lossless by construction (a skip needs a
    // negative membership probe — proof of absence), so the oracle is
    // the plain full-table point filter with the replayed bucket.
    "q_l10_bloom_point_lookup" ->
      s"""$zorderCtes
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(bucket AS BIGINT) AS bucket
         |FROM zb
         |WHERE l_orderkey = 7
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
        .stripMargin,

    // the v2 leg is EMPTY by construction (order 7 erased), so the
    // oracle is the v1 point filter alone — a pin that loses rows or
    // an erasure that leaks into v1 both hash-mismatch
    "q_l12_versioned_point" ->
      """SELECT 'v1' AS ver, l_orderkey, l_linenumber, l_partkey,
        |  l_suppkey
        |FROM lineitem WHERE l_orderkey = 7
        |ORDER BY ver, l_orderkey, l_linenumber, l_partkey,
        |  l_suppkey""".stripMargin,

    // v1 ≡ the base (l_orderkey%3≠0) corpus filter — untouched by the
    // later erasure; v3 ≡ the full corpus filter minus the erased
    // orders. A pin that leaks post-erasure rows into v1, or an
    // erasure that fails to publish, hash-mismatches its leg.
    "q_l11_versioned_scan" ->
      """SELECT * FROM (
        |  SELECT 'v1' AS ver, l_orderkey, l_linenumber, l_partkey,
        |    l_suppkey
        |  FROM lineitem
        |  WHERE l_orderkey % 3 <> 0
        |    AND l_partkey BETWEEN 10 AND 50
        |    AND l_suppkey BETWEEN 2 AND 5
        |  UNION ALL
        |  SELECT 'v3', l_orderkey, l_linenumber, l_partkey, l_suppkey
        |  FROM lineitem
        |  WHERE l_orderkey % 10 <> 7
        |    AND l_partkey BETWEEN 10 AND 50
        |    AND l_suppkey BETWEEN 2 AND 5)
        |ORDER BY ver, l_orderkey, l_linenumber, l_partkey, l_suppkey"""
        .stripMargin,

    "q_l3_hilbert_layout" ->
      s"""$hilbertCtes
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(hval AS BIGINT) AS hval, CAST(bucket AS BIGINT) AS bucket
         |FROM hb WHERE l_orderkey < 200
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
        .stripMargin,

    "q_l1_zorder_layout" ->
      s"""$zorderCtes
         |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(zval AS BIGINT) AS zval, CAST(bucket AS BIGINT) AS bucket
         |FROM zb WHERE l_orderkey < 200
         |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey"""
        .stripMargin,

    "q_l2_skipping_stats" ->
      s"""$zorderCtes
         |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_rows,
         |  CAST(min(l_partkey) AS BIGINT) AS min_l_partkey,
         |  CAST(max(l_partkey) AS BIGINT) AS max_l_partkey,
         |  CAST(min(l_suppkey) AS BIGINT) AS min_l_suppkey,
         |  CAST(max(l_suppkey) AS BIGINT) AS max_l_suppkey,
         |  CAST(CASE WHEN max(l_partkey) < 10 OR min(l_partkey) > 50
         |    OR max(l_suppkey) < 2 OR min(l_suppkey) > 5
         |    THEN 1 ELSE 0 END AS BIGINT) AS skipped
         |FROM zb GROUP BY bucket
         |ORDER BY bucket""".stripMargin,

    "q_s2_schema_peek" ->
      "SELECT * FROM customer ORDER BY c_custkey LIMIT 1",

    "q_s3_scan_region" ->
      "SELECT * FROM region ORDER BY r_regionkey",

    "q_p1_project_nullfill" ->
      """SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment,
        |CAST(NULL AS VARCHAR) AS extra_field
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_a2_union_merge" ->
      """SELECT c_custkey, MAX(c_name) AS c_name, MAX(n_orders) AS n_orders,
        |ROUND(MAX(total_spent), 2) AS total_spent FROM (
        |  SELECT c_custkey, c_name, CAST(NULL AS BIGINT) AS n_orders,
        |         CAST(NULL AS DOUBLE) AS total_spent FROM customer
        |  UNION ALL
        |  SELECT o_custkey, NULL, count(*), sum(o_totalprice)
        |  FROM orders GROUP BY o_custkey
        |) GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_j1_fk_edges" ->
      """SELECT c_custkey AS start_id, o_orderkey AS end_id, o_totalprice
        |FROM customer JOIN orders ON c_custkey = o_custkey
        |ORDER BY start_id, end_id""".stripMargin,

    "q_j1b_fk_edges_resolved" ->
      """SELECT c_custkey AS start_id, n_nationkey AS end_id,
        |c_mktsegment, n_name
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY start_id, end_id""".stripMargin,

    "q_j2_jointable_edges" ->
      """SELECT DISTINCT l_orderkey AS start_id, l_partkey AS end_id
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders)
        |  AND l_partkey IN (SELECT p_partkey FROM part)
        |ORDER BY start_id, end_id""".stripMargin,

    "q_j2b_jointable_props" ->
      """SELECT l_orderkey AS start_id, l_partkey AS end_id,
        |CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |ROUND(l_quantity, 2) AS l_quantity
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders)
        |  AND l_partkey IN (SELECT p_partkey FROM part)
        |ORDER BY start_id, end_id, l_linenumber""".stripMargin,

    "q_j3_dangling_edges" ->
      """SELECT reason, count(*) AS n FROM (
        |  SELECT 'missing_start' AS reason FROM events
        |  WHERE user_id NOT IN (SELECT c_custkey FROM customer)
        |  UNION ALL
        |  SELECT 'missing_end' AS reason FROM events
        |  WHERE user_id NOT IN (SELECT s_suppkey FROM supplier)
        |) GROUP BY reason ORDER BY reason""".stripMargin,

    "q_graph_build" ->
      """SELECT kind, label, n FROM (
        |  SELECT 'node' AS kind, 'Customer' AS label, count(DISTINCT c_custkey) AS n FROM customer
        |  UNION ALL SELECT 'node', 'Order', count(DISTINCT o_orderkey) FROM orders
        |  UNION ALL SELECT 'node', 'Part', count(DISTINCT p_partkey) FROM part
        |  UNION ALL SELECT 'node', 'Nation', count(DISTINCT n_nationkey) FROM nation
        |  UNION ALL SELECT 'rel', 'CUSTOMER_PLACED_ORDER', count(*)
        |    FROM customer JOIN orders ON c_custkey = o_custkey
        |  UNION ALL SELECT 'rel', 'ORDER_CONTAINS_PART', count(*)
        |    FROM lineitem
        |    WHERE l_orderkey IN (SELECT o_orderkey FROM orders)
        |      AND l_partkey IN (SELECT p_partkey FROM part)
        |  UNION ALL SELECT 'rel', 'CUSTOMER_IN_NATION', count(*)
        |    FROM customer JOIN nation ON c_nationkey = n_nationkey
        |) ORDER BY kind, label""".stripMargin,

    "q_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |ROUND(sum(l_quantity), 2) AS sum_qty,
        |ROUND(sum(l_extendedprice), 2) AS sum_base_price,
        |ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |ROUND(avg(l_quantity), 4) AS avg_qty,
        |ROUND(avg(l_discount), 4) AS avg_disc,
        |count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_revenue_per_nation" ->
      """SELECT n_name,
        |ROUND(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_set_ops" ->
      """SELECT 'machinery_buyer' AS set_kind, k FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'MACHINERY'
        |  INTERSECT SELECT o_custkey FROM orders)
        |UNION ALL
        |SELECT 'machinery_no_orders', k FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'MACHINERY'
        |  EXCEPT SELECT o_custkey FROM orders)
        |ORDER BY set_kind, k""".stripMargin,

    "q_pivot_status" ->
      """SELECT o_orderpriority,
        |count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    "q_window_topk" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_cube_orders" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |COALESCE(o_orderpriority, 'ALL') AS priority,
        |count(*) AS n, ROUND(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_rollup_orders" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS status,
        |COALESCE(o_orderpriority, 'ALL') AS priority,
        |count(*) AS n, ROUND(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_window_running" ->
      """SELECT o_custkey, o_orderkey,
        |ROUND(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |  ORDER BY o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS running_total
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    // NFKD fold ≡ strip_accents + drop-non-ASCII on this corpus (document
    // text is pure ASCII; only the injected prefix exercises the fold).
    "q_f1_ascii_fold" ->
      """SELECT doc_id,
        |regexp_replace(strip_accents('Café—' || text), '[^\x00-\x7F]', '', 'g')
        |  AS folded
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_histogram_prices" ->
      """SELECT CAST(floor(l_extendedprice / 5000) * 5000 AS BIGINT)
        |  AS bucket, count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu,
        |            event_type, value FROM events),
        |c AS (SELECT event_id, user_id, tsu FROM ev
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, tsu, ROUND(value, 2) AS purchase_value
        |      FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsu,
        |       p.purchase_value, p.tsu AS purchase_tsu
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tsu >= p.tsu
        |ORDER BY c.event_id""".stripMargin,

    // DuckDB's native ASOF with the inequality flipped: first
    // following right row, inclusive.
    "q_asof_forward" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu,
        |            event_type, value FROM events),
        |c AS (SELECT event_id, user_id, tsu FROM ev
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, tsu, ROUND(value, 2) AS purchase_value
        |      FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsu,
        |       p.purchase_value, p.tsu AS purchase_tsu
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tsu <= p.tsu
        |ORDER BY c.event_id""".stripMargin,

    // Nearest = LATERAL argmin over (|Δts|, ts): the ts tiebreak keeps
    // the backward row on exact |Δ| ties — the engine's convention.
    "q_asof_nearest" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu,
        |            event_type, value FROM events),
        |c AS (SELECT event_id, user_id, tsu FROM ev
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, tsu, ROUND(value, 2) AS purchase_value
        |      FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsu,
        |       q.purchase_value, q.purchase_tsu
        |FROM c LEFT JOIN LATERAL (
        |  SELECT purchase_value, tsu AS purchase_tsu FROM p
        |  WHERE p.user_id = c.user_id
        |  ORDER BY abs(p.tsu - c.tsu), p.tsu LIMIT 1) q ON true
        |ORDER BY c.event_id""".stripMargin,

    // identical oracle to q_asof_join — the salted plan must be
    // semantics-invariant
    "q_asof_join_salted" ->
      """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) // 1000 AS tsu,
        |            event_type, value FROM events),
        |c AS (SELECT event_id, user_id, tsu FROM ev
        |      WHERE event_type = 'click'),
        |p AS (SELECT user_id, tsu, ROUND(value, 2) AS purchase_value
        |      FROM ev WHERE event_type = 'purchase')
        |SELECT c.event_id, c.user_id, c.tsu,
        |       p.purchase_value, p.tsu AS purchase_tsu
        |FROM c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.tsu >= p.tsu
        |ORDER BY c.event_id""".stripMargin,

    "q_range_join" ->
      """SELECT p_partkey, band_id
        |FROM part
        |JOIN (VALUES (1, 0.0, 120.0), (2, 100.0, 260.0), (3, 250.0, 1000.0))
        |  AS bands(band_id, lo, hi)
        |  ON p_retailprice >= lo AND p_retailprice < hi
        |ORDER BY p_partkey, band_id""".stripMargin,

    "q_j6_interval_overlap" ->
      """WITH a AS (
        |  SELECT l_orderkey AS a_ok, CAST(l_linenumber AS BIGINT) AS a_ln,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS a_s,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
        |      + l_orderkey % 20 + 3 AS BIGINT) AS a_e
        |  FROM lineitem WHERE l_orderkey % 120 = 0),
        |b AS (
        |  SELECT l_orderkey AS b_ok, CAST(l_linenumber AS BIGINT) AS b_ln,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS b_s,
        |    CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01'
        |      + l_orderkey % 20 + 3 AS BIGINT) AS b_e
        |  FROM lineitem WHERE l_orderkey % 120 = 7)
        |SELECT a_ok, a_ln, a_s, a_e, b_ok, b_ln, b_s, b_e
        |FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
        |ORDER BY a_ok, a_ln, b_ok, b_ln""".stripMargin,

    "q_json_props" ->
      """SELECT event_type, count(*) AS n,
        |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
        |  AS sum_k,
        |ROUND(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4)
        |  AS avg_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_date_parts" ->
      """SELECT CAST(date_part('year', o_orderdate) AS BIGINT) AS y,
        |CAST(date_part('month', o_orderdate) AS BIGINT) AS m,
        |count(*) AS n, ROUND(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Co-occurrence rebuild: distinct members, size gate ≤ 10, canonical
    // a < b self-join, pair counts ≥ 2.
    "q_j7_cooccurrence" ->
      """WITH m AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |sz AS (SELECT g, count(*) AS n FROM m GROUP BY g),
        |k AS (SELECT m.g, m.i FROM m JOIN sz USING (g) WHERE sz.n <= 10)
        |SELECT a.i AS start_id, b.i AS end_id,
        |  CAST(count(*) AS BIGINT) AS weight
        |FROM k a JOIN k b ON a.g = b.g AND a.i < b.i
        |GROUP BY a.i, b.i
        |HAVING count(*) >= 2
        |ORDER BY start_id, end_id""".stripMargin,

    // Association-rule rebuild: the J7 basket CTEs verbatim, directed
    // pairs, n_baskets/item counts from the same gated universe, lift
    // cross-products HUGEINT before the one double division, the
    // confidence gate applied on the identical double shape.
    "q_j8_assoc_rules" ->
      """WITH m AS (
        |  SELECT DISTINCT l_orderkey AS g, l_partkey AS i FROM lineitem),
        |sz AS (SELECT g, count(*) AS n FROM m GROUP BY g),
        |k AS (SELECT m.g, m.i FROM m JOIN sz USING (g) WHERE sz.n <= 10),
        |nb AS (SELECT CAST(count(DISTINCT g) AS BIGINT) AS n_baskets
        |       FROM k),
        |ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ic FROM k
        |       GROUP BY i),
        |p AS (
        |  SELECT a.i AS antecedent, b.i AS consequent,
        |    CAST(count(*) AS BIGINT) AS pair_n
        |  FROM k a JOIN k b ON a.g = b.g AND a.i <> b.i
        |  GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |r AS (
        |  SELECT p.antecedent, p.consequent, p.pair_n,
        |    ia.ic AS ante_n, ib.ic AS cons_n, nb.n_baskets
        |  FROM p
        |  JOIN ic ia ON p.antecedent = ia.i
        |  JOIN ic ib ON p.consequent = ib.i
        |  CROSS JOIN nb)
        |SELECT antecedent, consequent, pair_n, ante_n, cons_n, n_baskets,
        |  CAST(floor(CAST(pair_n AS DOUBLE) / CAST(n_baskets AS DOUBLE)
        |    * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS support_e6,
        |  CAST(floor(CAST(pair_n AS DOUBLE) / CAST(ante_n AS DOUBLE)
        |    * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS conf_e6,
        |  CAST(floor(
        |    CAST(CAST(n_baskets AS HUGEINT) * pair_n AS DOUBLE)
        |      / CAST(CAST(ante_n AS HUGEINT) * cons_n AS DOUBLE)
        |    * 1e6 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lift_e6
        |FROM r
        |WHERE CAST(pair_n AS DOUBLE) / CAST(ante_n AS DOUBLE)
        |  >= CAST(0.08 AS DOUBLE)
        |ORDER BY antecedent, consequent""".stripMargin,

    "q_window_rolling_time" ->
      """SELECT event_id, user_id, es,
        |  count(*) OVER w AS n_1h,
        |  ROUND(sum(value) OVER w, 2) AS sum_1h
        |FROM (SELECT event_id, user_id,
        |        (epoch_ns(ts) // 1000000000) AS es, value FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY es
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, es, event_id""".stripMargin,

    // Full-outer rebuild of the snapshot diff; null-safe compares via
    // IS NOT DISTINCT FROM; +1.0 is exactly representable so compared
    // doubles are bit-identical on both engines.
    "q_cdc_diff" ->
      """WITH prev AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 0),
        |cur AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0
        |      THEN o_totalprice + CAST(1 AS DOUBLE)
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0),
        |d AS (
        |  SELECT COALESCE(c.o_orderkey, p.o_orderkey) AS o_orderkey,
        |    CASE WHEN p.o_orderkey IS NULL THEN 'added'
        |         WHEN c.o_orderkey IS NULL THEN 'removed'
        |         WHEN p.o_orderstatus IS NOT DISTINCT FROM c.o_orderstatus
        |          AND p.o_totalprice IS NOT DISTINCT FROM c.o_totalprice
        |           THEN 'unchanged'
        |         ELSE 'changed' END AS change,
        |    c.o_orderstatus, c.o_totalprice
        |  FROM prev p FULL OUTER JOIN cur c ON p.o_orderkey = c.o_orderkey)
        |SELECT * FROM d WHERE change <> 'unchanged'
        |ORDER BY o_orderkey""".stripMargin,

    "q_cdc_stats" ->
      """WITH prev AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |  WHERE o_orderkey % 10 <> 0),
        |cur AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CASE WHEN o_orderkey % 3 = 0
        |      THEN o_totalprice + CAST(1 AS DOUBLE)
        |      ELSE o_totalprice END AS o_totalprice
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT CASE WHEN p.o_orderkey IS NULL THEN 'added'
        |         WHEN c.o_orderkey IS NULL THEN 'removed'
        |         WHEN p.o_orderstatus IS NOT DISTINCT FROM c.o_orderstatus
        |          AND p.o_totalprice IS NOT DISTINCT FROM c.o_totalprice
        |           THEN 'unchanged'
        |         ELSE 'changed' END AS change,
        |  count(*) AS n
        |FROM prev p FULL OUTER JOIN cur c ON p.o_orderkey = c.o_orderkey
        |GROUP BY 1 ORDER BY change""".stripMargin,
  )
}
