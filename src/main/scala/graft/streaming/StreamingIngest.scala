package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

import graft.operators.{Decontaminate, Dedup, FrameVersions, Funnel, GraphOps, Layout, Relevance, Similarity, Tokenizer}

/** Input/output rows for the stateful per-user accumulator (ST1 variant). */
case class UserEvent(user_id: Long, value: Double)
case class UserTotals(user_id: Long, n_events: Long, sum_value: Double)

/** Rows for the timeout-emitting sessionizer ([[StreamingIngest.expiringSessions]]). */
case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
case class MeteredEvent(user_id: Long, ts: java.sql.Timestamp, v: Long)
case class CusumState(sp: Long, sn: Long)
case class CusumFlag(user_id: Long, ts: java.sql.Timestamp, v: Long,
  sp: Long, sn: Long, is_change: Boolean)
case class FunnelEvent(user_id: Long, ts: java.sql.Timestamp,
  event_type: String)
case class FunnelState(slots: Seq[Long])
case class StageAdvance(user_id: Long, ts: java.sql.Timestamp,
  stage: Int, t_first_sec: Long, dur_sec: Long)
case class HoltState(level: Double, trend: Double)
case class ZWindowState(buf: Seq[Long])
case class ZPoint(user_id: Long, ts: java.sql.Timestamp, v: Long,
  mean: Option[Double], sd: Option[Double], z: Option[Double])
case class GroupedToken(group: String, ts: java.sql.Timestamp,
  item: String)
case class HitterCounters(items: Map[String, Long])
case class HeavyHitter(group: String, item: String, min_count: Long)
case class GroupedValue(group: String, ts: java.sql.Timestamp, v: Long)
case class HdrBuckets(counts: Map[String, Long])
case class PsiBins(counts: Map[Int, Long])
case class PsiPoint(group: String, n: Long, psi: Double)
case class QuantileEstimate(group: String, q_e6: Long, est: Long,
  n: Long)
case class HoltPoint(user_id: Long, ts: java.sql.Timestamp, v: Double,
  level: Double, trend: Double, forecast: Option[Double],
  resid: Option[Double])
case class TypedEvent(user_id: Long, ts: java.sql.Timestamp,
  event_id: Long, event_type: String)
case class LastTyped(tsMs: Long, event_id: Long, event_type: String)
case class TransitionPair(user_id: Long, from_type: String,
  to_type: String)
case class OpenSession(startMicros: Long, endMicros: Long, n: Long, sum: Double)
case class CompletedSession(user_id: Long, sess_start: java.sql.Timestamp,
    sess_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

/** Structured-Streaming ingest — the reference's stated processing model
  * ("Stream entries in S to T", graph_db_builder.py:28, :485-486) made
  * actually incremental:
  *
  *  - ST1 [[dedupIngest]]: continuous node ingest with merge-by-id
  *    semantics (docstring graph_db_builder.py:493-497). State is bounded
  *    by the watermark — without it the seen-ids map grows forever, the
  *    exact failure mode the reference's in-memory design would hit.
  *  - ST2 [[windowedEventAgg]]: tumbling/sliding window aggregation over an
  *    event stream. The same plan works in batch mode (for the DuckDB
  *    oracle) and streaming mode — one definition, two execution models.
  */
object StreamingIngest {

  /** ST1: drop duplicate ids within the watermark horizon. Works on a
    * streaming DataFrame (`spark.readStream...`); `tsCol` must be an
    * event-time column. */
  def dedupIngest(stream: DataFrame, idKey: String, tsCol: String,
      watermark: String): DataFrame =
    stream
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(idKey)

  /** ST2: per-window per-type event aggregation. `slide = None` → tumbling.
    * Batch-mode friendly: window() is an ordinary expression. */
  def windowedEventAgg(events: DataFrame, tsCol: String, typeCol: String,
      windowLen: String, slide: Option[String] = None,
      watermark: Option[String] = None): DataFrame = {
    val base = watermark.foldLeft(events)((df, w) => df.withWatermark(tsCol, w))
    val win = slide match {
      case Some(s) => window(col(tsCol), windowLen, s)
      case None => window(col(tsCol), windowLen)
    }
    base.groupBy(win.as("w"), col(typeCol))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value")).as("sum_value"),
        avg(col("value")).as("avg_value"))
      .select(col("w.start").as("w_start"), col("w.end").as("w_end"),
        col(typeCol), col("n_events"), col("sum_value"), col("avg_value"))
  }

  /** ST1 end-to-end: continuously ingest a deduplicated stream into a
    * parquet staging table — the reference's `safe_stream_mysql_to_pytable`
    * loop (graph_db_builder.py:491-543) as an actually-incremental pipeline.
    * foreachBatch appends each micro-batch after watermark dedup; exactly-
    * once within a batch via the sink's atomic commit, at-least-once across
    * restarts (checkpointed offsets). Returns the running query. */
  def streamToStaging(stream: DataFrame, idKey: String, tsCol: String,
      watermark: String, destDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    dedupIngest(stream, idKey, tsCol, watermark)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write.mode("append").parquet(destDir)
      }
      .start()

  /** ST5: stream-stream equi-join with watermarks and an event-time range
    * bound — the enrichment shape (impressions ⋈ clicks, requests ⋈
    * responses): each left row matches right rows with the same key whose
    * event time lands in [left ts, left ts + `within`].
    *
    * The range predicate is load-bearing for state size: with only an
    * equi-condition Spark must retain EVERY past row of both sides
    * forever; with watermarks + the time bound it provably expires state
    * older than watermark − `within` (state is per-key-partitioned, so
    * the join scales horizontally like any shuffled stream op).
    *
    * Column layout: left columns first, then the right side's `rightTs`
    * and `payloadCols`; the right key column is dropped (it equals the
    * left's). Inner join — unmatched rows expire silently; use the
    * built-in left-outer stream join when unmatched-left emission is
    * needed. */
  def streamStreamJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, watermark: String,
      within: String): DataFrame = {
    require(leftTs != rightTs,
      s"leftTs and rightTs must be named apart (both '$leftTs') — " +
        "rename one side so the joined row can carry both timestamps")
    val l = left.withWatermark(leftTs, watermark).alias("_gl")
    val r = right.withWatermark(rightTs, watermark).alias("_gr")
    val rightKeep = right.columns.filter(c => c != key).toSeq
    // Same guard as the ts collision, generalized: a right payload column
    // sharing a name with any left column would emit duplicate output
    // names and ambiguous-reference failures one operator downstream.
    val clash = rightKeep.toSet.intersect(left.columns.toSet)
    require(clash.isEmpty,
      s"right-side column(s) ${clash.mkString(", ")} collide with left " +
        "columns — rename (e.g. prefix) the right payload before joining")
    l.join(r,
        col(s"_gl.$key") === col(s"_gr.$key") &&
          col(s"_gr.$rightTs") >= col(s"_gl.$leftTs") &&
          col(s"_gr.$rightTs") <= col(s"_gl.$leftTs") +
            expr(s"INTERVAL $within"))
      .select(left.columns.map(c => col(s"_gl.$c")).toIndexedSeq ++
        rightKeep.map(c => col(s"_gr.$c")): _*)
  }

  /** Custom keyed state via mapGroupsWithState: a continuously-updated
    * per-user running aggregate — the engine's hook for arbitrary stateful
    * stream logic beyond built-in windows (SURVEY §2.8). Each micro-batch
    * folds its events into the persisted [[UserTotals]] state and emits the
    * updated row (use with OutputMode.Update). State is per-key and
    * partitioned by the grouping key, so it scales horizontally; bound
    * lifetime with a timeout if keys churn. */
  def runningUserTotals(events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](
        GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[UserEvent], state: GroupState[UserTotals]) =>
          val prev = state.getOption.getOrElse(UserTotals(uid, 0L, 0.0))
          var n = prev.n_events
          var s = prev.sum_value
          batch.foreach { e => n += 1; s += e.value }
          val next = UserTotals(uid, n, s)
          state.update(next)
          next
      }
  }

  /** Timeout-EMITTING sessionizer via `flatMapGroupsWithState` + event-time
    * timeout — the custom-state shape [[runningUserTotals]] can't express:
    * nothing is emitted while a session is open; when the WATERMARK passes
    * `last event + gap`, the state times out and the completed session row
    * is emitted exactly once (OutputMode.Append downstream-safe — rows
    * never retract). One open session per key; any in-gap event extends it
    * (gap splitting inside a single micro-batch is the built-in
    * `session_window`'s job — this operator exists for the expiry
    * *emission* semantics). State is one [[OpenSession]] per active key and
    * is removed on timeout, so storage tracks ACTIVE keys only. */
  def expiringSessions(events: Dataset[SessionEvent], gap: String,
      watermark: String = "1 hour"): Dataset[CompletedSession] = {
    import events.sparkSession.implicits._
    val gapIv = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(gap))
    require(gapIv.months == 0,
      s"expiringSessions gap '$gap' uses calendar months/years, which have " +
        "no fixed duration; express the gap in days, hours, or minutes")
    val gapMicros = gapIv.days * 86400000000L + gapIv.microseconds
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[OpenSession, CompletedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid: Long, batch: Iterator[SessionEvent],
            state: GroupState[OpenSession]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(CompletedSession(uid,
              new java.sql.Timestamp(s.startMicros / 1000),
              new java.sql.Timestamp(s.endMicros / 1000),
              s.n, s.sum))
          } else {
            var s = state.getOption.getOrElse(
              OpenSession(Long.MaxValue, Long.MinValue, 0L, 0.0))
            batch.foreach { e =>
              val t = e.ts.getTime * 1000L
              s = OpenSession(math.min(s.startMicros, t),
                math.max(s.endMicros, t), s.n + 1, s.sum + e.value)
            }
            state.update(s)
            state.setTimeoutTimestamp(s.endMicros / 1000 + gapMicros / 1000)
            Iterator.empty
          }
      }
  }

  /** Session windows per user: gap-based sessionization.
    *
    * STREAMING inputs run Spark's native `session_window` aggregate
    * (stateful merge in the state store — the only incremental option).
    * BATCH inputs take a lag + running-sum plan instead: one
    * (user)-partitioned sort window marks session starts, a running sum
    * numbers them, and a prefix-compatible groupBy folds each session —
    * bit-identical output (same merge rule: an event at exactly
    * `prev + gap` MERGES — session_window's overlap test is inclusive
    * of the window end, verified empirically in `StreamingSpec`'s
    * boundary test, and matching the DuckDB oracle's `diff > gap` new-
    * session rule; null users form one ordinary group on BOTH paths,
    * null timestamps are dropped by both — the native path via the
    * SessionWindowing rule's injected isnotnull filter), but ~40×
    * faster at high
    * partition counts: `session_window`'s batch path is a sort-based
    * merging aggregation that r6's driver bench measured at 33.5 s for
    * 60k events at 32 shuffle partitions, vs 0.9 s for this plan on the
    * same sessions (`q_st21`, BENCH_r06). `StreamingSpec` pins the two
    * paths equal, including the exact-gap boundary. */
  def sessionAgg(events: DataFrame, tsCol: String, userCol: String,
      gap: String, watermark: Option[String] = None): DataFrame = {
    if (events.isStreaming) {
      val base =
        watermark.foldLeft(events)((df, w) => df.withWatermark(tsCol, w))
      base.groupBy(session_window(col(tsCol), gap).as("w"), col(userCol))
        .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .select(col(userCol), col("w.start").as("w_start"),
          col("w.end").as("w_end"), col("n_events"), col("sum_value"))
    } else {
      val iv = expr(s"INTERVAL '$gap'")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(userCol)).orderBy(col(tsCol))
      val prev = lag(col(tsCol), 1).over(w)
      // Only null TIMESTAMPS are dropped — Catalyst's SessionWindowing
      // rule injects the same isnotnull(ts) filter on the native path.
      // Null USER keys are kept: groupBy and Window.partitionBy both
      // treat null as one ordinary group, so the paths agree
      // (StreamingSpec pins this with a null-user/null-ts input).
      events
        .filter(col(tsCol).isNotNull)
        .withColumn("_new_s",
          when(prev.isNull || col(tsCol) > prev + iv, 1L).otherwise(0L))
        .withColumn("_sid", sum(col("_new_s")).over(w))
        .groupBy(col(userCol), col("_sid"))
        .agg(min(col(tsCol)).as("w_start"),
          (max(col(tsCol)) + iv).as("w_end"),
          count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
        .select(col(userCol), col("w_start"), col("w_end"),
          col("n_events"), col("sum_value"))
    }
  }

  /** Streaming two-sided CUSUM — the ONLINE form of
    * [[graft.operators.TimeSeries.cusum]]: the reference level is a
    * fixed, known `target` (online CUSUM cannot see the full-series
    * mean; callers supply the in-control level from history or the
    * batch operator), and the per-key state is exactly two longs:
    *
    *   S⁺ += (v − target − slack), clamp 0;  S⁻ += (target − v − slack)
    *
    * emitted once per event (Append-safe), flagged when either side
    * crosses `threshold`. `v` must be integer-valued (pre-scale floats,
    * the batch convention) so the statistics are exact longs — no float
    * state ever ages in the store.
    *
    * Scale notes: state is 16 bytes per ACTIVE entity regardless of
    * stream length; events within a micro-batch fold in (ts, then
    * arrival) order. No watermark needed — the recurrence is
    * order-sensitive only within a key, and keyed state carries across
    * triggers. */
  def streamingCusum(events: Dataset[MeteredEvent], target: Long,
      slack: Long, threshold: Long): Dataset[CusumFlag] = {
    require(slack >= 0, "slack must be >= 0")
    require(threshold > 0, "threshold must be > 0")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CusumState, CusumFlag](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[MeteredEvent],
            state: GroupState[CusumState]) =>
          var s = state.getOption.getOrElse(CusumState(0L, 0L))
          val out = batch.toSeq.sortBy(e => (e.ts.getTime, e.v)).map { e =>
            s = CusumState(
              math.max(0L, s.sp + (e.v - target - slack)),
              math.max(0L, s.sn + (target - e.v - slack)))
            CusumFlag(uid, e.ts, e.v, s.sp, s.sn,
              s.sp > threshold || s.sn > threshold)
          }
          state.update(s)
          out.iterator
      }
  }

  /** Streaming rolling z-score — the ONLINE form of
    * [[graft.operators.TimeSeries.rollingZscore]]: per-key state is
    * the last `window` integer values (a `window`-long ring regardless
    * of stream length); each event emits its z against the window
    * ENDING at it, None until the ring fills and on zero variance —
    * the batch operator's exact contract, and the same arithmetic
    * (exact long sums, the identical double formula), so online and
    * batch agree bit-for-bit on any shared prefix.
    *
    * Scale notes: 8·`window` bytes per ACTIVE key; events within a
    * micro-batch fold in (ts, value) order; no watermark needed. */
  def streamingZscore(events: Dataset[MeteredEvent],
      window: Int): Dataset[ZPoint] = {
    require(window >= 2, "window must be >= 2")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[ZWindowState, ZPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[MeteredEvent],
            state: GroupState[ZWindowState]) =>
          var buf = state.getOption.getOrElse(ZWindowState(Nil)).buf
          val out = batch.toSeq.sortBy(e => (e.ts.getTime, e.v)).map { e =>
            buf = (buf :+ e.v).takeRight(window)
            if (buf.size < window) ZPoint(uid, e.ts, e.v, None, None, None)
            else {
              // exact long sums → the batch operator's double formula,
              // same operand order
              val nD = window.toDouble
              val s1 = buf.sum.toDouble
              val s2 = buf.map(x => x * x).sum.toDouble
              val mean = s1 / nD
              val varNum = nD * s2 - s1 * s1
              val sd =
                if (varNum >= 0.0) Some(math.sqrt(varNum / (nD * (nD - 1.0))))
                else None
              val z =
                if (varNum > 0.0)
                  Some((e.v - mean) / math.sqrt(varNum / (nD * (nD - 1.0))))
                else None
              ZPoint(uid, e.ts, e.v, Some(mean), sd, z)
            }
          }
          state.update(ZWindowState(buf))
          out.iterator
      }
  }

  /** Streaming funnel — the ONLINE form of
    * [[graft.operators.Funnel.windowFunnel]]: per-key state is the
    * `stages.length` matched-epoch slots (−1 unset), and instead of a
    * per-entity summary row the stream emits one [[StageAdvance]] the
    * moment a stage fills — the live conversion-event feed (batch
    * answers "how far did everyone get", this fires "user X just
    * reached stage k" as it happens). Same anchored-greedy contract:
    * stage 1 anchors at the key's earliest stage-1 event, later stages
    * must land within `windowSec` of the anchor; a key whose funnel
    * state never advances emits nothing.
    *
    * Scale notes: state is `|stages|` longs per ACTIVE key; events
    * within a micro-batch fold in (ts, type) order; irrelevant types
    * are filtered before the keyed state op so only funnel-typed
    * events shuffle. No watermark needed — keyed state carries across
    * triggers and the fold is order-sensitive within a key only. */
  def streamingFunnel(events: Dataset[FunnelEvent], stages: Seq[String],
      windowSec: Long): Dataset[StageAdvance] = {
    require(stages.nonEmpty, "stages must be non-empty")
    require(stages.distinct.size == stages.size,
      "stage types must be distinct")
    require(windowSec >= 0, "windowSec must be >= 0")
    import events.sparkSession.implicits._
    val idx = stages.zipWithIndex.toMap
    events
      .filter(e => idx.contains(e.event_type))
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, StageAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[FunnelEvent],
            state: GroupState[FunnelState]) =>
          val slots = state.getOption
            .getOrElse(FunnelState(Seq.fill(stages.size)(-1L)))
            .slots.toArray
          val out = Seq.newBuilder[StageAdvance]
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_type))
            .foreach { e =>
              val k = idx(e.event_type)
              val t = e.ts.getTime / 1000L
              val prevSet = k == 0 || slots(k - 1) != -1L
              val inWindow = k == 0 || t - slots(0) <= windowSec
              if (slots(k) == -1L && prevSet && inWindow) {
                slots(k) = t
                out += StageAdvance(uid, e.ts, k + 1, slots(0),
                  t - slots(0))
              }
            }
          state.update(FunnelState(slots.toSeq))
          out.result().iterator
      }
  }

  /** Streaming Holt double exponential smoothing — the ONLINE form of
    * [[graft.operators.TimeSeries.holt]]: per-key state is exactly
    * (level, trend); each event first yields the one-step forecast
    * `l + b` from the PRE-update state (None on a key's first event —
    * the same contract as the batch operator's null first row), then
    * folds itself in with the identical recurrence (the trend arm
    * re-derives l_t, so online and batch runs over the same prefix
    * produce bit-identical state).
    *
    * Scale notes: 16 bytes of state per ACTIVE entity; events within a
    * micro-batch fold in (ts, then value) order; no watermark needed —
    * keyed state carries across triggers, the order sensitivity is
    * within-key only. */
  def streamingHolt(events: Dataset[SessionEvent], alpha: Double,
      beta: Double): Dataset[HoltPoint] = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(beta >= 0.0 && beta <= 1.0, "beta must be in [0, 1]")
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[HoltState, HoltPoint](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[SessionEvent],
            state: GroupState[HoltState]) =>
          var s = state.getOption
          val out = batch.toSeq.sortBy(e => (e.ts.getTime, e.value))
            .map { e =>
              val (next, fc) = s match {
                case None => (HoltState(e.value, 0.0), None)
                case Some(HoltState(l, b)) =>
                  val lNew = alpha * e.value + (1.0 - alpha) * (l + b)
                  (HoltState(lNew,
                    beta * ((alpha * e.value + (1.0 - alpha) * (l + b))
                      - l) + (1.0 - beta) * b), Some(l + b))
              }
              s = Some(next)
              HoltPoint(uid, e.ts, e.value, next.level, next.trend,
                fc, fc.map(e.value - _))
            }
          s.foreach(state.update)
          out.iterator
      }
  }

  /** Streaming heavy hitters — the ONLINE form of the `topk_freq`
    * aggregate ([[graft.functions.TopKFreq]]): per-group state is the
    * SAME Misra–Gries counter table (≤ `capacity` entries regardless of
    * stream length), folded across triggers; each trigger re-emits the
    * group's current top-`k` by (count desc, item asc) — the live
    * trending-terms feed. Counts are the MG lower bounds with the
    * classic `n/(capacity+1)` under-count; with `capacity` ≥ the
    * group's distinct items the counters — and therefore the feed — are
    * EXACT and bit-equal to the batch aggregate over the same prefix
    * (spec-pinned).
    *
    * Scale notes: state is O(capacity) strings+longs per ACTIVE group;
    * events fold in (ts, item) order within each micro-batch (the
    * deterministic-fold discipline of every stateful op here); no
    * watermark — counters accumulate for the group's lifetime. */
  def streamingHeavyHitters(items: Dataset[GroupedToken], k: Int,
      capacity: Int): Dataset[HeavyHitter] = {
    require(capacity >= 1, "capacity must be >= 1")
    require(k >= 1 && k <= capacity, "k must be in [1, capacity]")
    import items.sparkSession.implicits._
    items
      .groupByKey(_.group)
      .flatMapGroupsWithState[HitterCounters, HeavyHitter](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (g: String, batch: Iterator[GroupedToken],
            state: GroupState[HitterCounters]) =>
          val st = new graft.functions.TopKFreq.State(capacity)
          state.getOption.foreach(_.items.foreach { case (i, c) =>
            st.add(i, c) })
          batch.toSeq.sortBy(e => (e.ts.getTime, e.item))
            .foreach(e => st.offer(e.item, 1L))
          state.update(HitterCounters(st.entries.toMap))
          st.top(k).map { case (item, c) => HeavyHitter(g, item, c) }
            .iterator
      }
  }

  /** Streaming twin of [[graft.operators.Quantiles.hdrQuantiles]]: the
    * per-group HDR bucket-count table lives as `mapGroupsWithState`
    * state and every trigger re-emits the current quantile estimates —
    * the online p50/p95/p99 dashboard over an unbounded value stream.
    * Bucket math is the JVM twin of the batch column form (octave from
    * the highest set bit, linear sub-bucket and ceil-div lower bound
    * in integer arithmetic), so the estimates after trigger `t` are
    * BIT-EQUAL to batch `hdrQuantiles` over the prefix — the pinned
    * twin discipline of [[streamingHoltSmooth]]/[[streamingHeavyHitters]].
    * Counts are commutative, so no per-batch sort is needed (unlike
    * the order-sensitive stateful ops above). Non-positive values are
    * dropped entirely (the batch audit columns have no per-trigger
    * meaning here); `n` counts POSITIVE values only.
    *
    * Scale notes: state is ≤ 64·k (bucket, count) entries per active
    * group — bounded for the group's lifetime regardless of stream
    * volume; no watermark (counts accumulate forever, the sketch's
    * point). */
  def streamingQuantiles(values: Dataset[GroupedValue], qs: Seq[Double],
      k: Int = 16): Dataset[QuantileEstimate] = {
    require(k >= 1 && (k & (k - 1)) == 0,
      s"k (sub-buckets per octave) must be a power of two, got $k")
    val b = 63 - java.lang.Long.numberOfLeadingZeros(k.toLong)
    require(qs.nonEmpty && qs.forall(q => q > 0.0 && q <= 1.0),
      "quantiles must be in (0, 1]")
    val qe6s = qs.map(q => math.round(q * 1e6))
    import values.sparkSession.implicits._
    values
      .groupByKey(_.group)
      .flatMapGroupsWithState[HdrBuckets, QuantileEstimate](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (g: String, batch: Iterator[GroupedValue],
            state: GroupState[HdrBuckets]) =>
          val counts = scala.collection.mutable.Map[String, Long]()
          state.getOption.foreach(_.counts.foreach { case (b, c) =>
            counts(b) = c })
          batch.foreach { gv =>
            if (gv.v > 0) {
              val e = 63 - java.lang.Long.numberOfLeadingZeros(gv.v)
              // Pure-shift sub-bucket (the batch column form's twin):
              // a multiply-then-divide would wrap past v ≈ 2^63/k.
              val d = gv.v - (1L << e)
              val sub = if (e >= b) d >> (e - b) else d << (b - e)
              val key = s"$e:$sub"
              counts(key) = counts.getOrElse(key, 0L) + 1L
            }
          }
          state.update(HdrBuckets(counts.toMap))
          if (counts.isEmpty) Iterator.empty
          else {
            val buckets = counts.toSeq
              .map { case (key, c) =>
                val Array(e, sub) = key.split(':').map(_.toInt)
                ((e, sub), c)
              }.sortBy(_._1)
            val n = buckets.map(_._2).sum
            qe6s.map { qe6 =>
              val rank = (qe6 * n + 999999L) / 1000000L
              var cum = 0L
              val ((e, sub), _) = buckets.find { case (_, c) =>
                cum += c; cum >= rank
              }.get
              val lo = (1L << e) +
                (if (e >= b) sub.toLong << (e - b)
                 else (sub.toLong * (1L << e) + k - 1) / k)
              QuantileEstimate(g, qe6, lo, n)
            }.iterator
          }
      }
  }

  /** Streaming twin of [[graft.operators.SnapshotDiff.psiDrift]]: the
    * ONLINE drift monitor. The reference window is a FROZEN per-bin
    * count vector (the `n_prev` column of a batch `psiDrift` run, or
    * any blessed historical histogram) shipped in the task closure;
    * per-group current-window bin counts live as `flatMapGroupsWithState`
    * state, and every trigger re-emits the group's total PSI against
    * the baseline — the "is today's ingest drifting off the corpus we
    * trained on" dashboard number, per source.
    *
    * Bin assignment, add-one smoothing, and the per-bin
    * `(p−q)·ln(p/q)` term are the EXACT double-op shapes of the batch
    * operator (same operand order), and the `nBins` terms sum in fixed
    * ascending-bin order on one JVM — so the emitted PSI after trigger
    * `t` is BIT-EQUAL to summing batch `psiDrift`'s `psi` column in
    * bin order over the stream prefix (pinned in `StreamingSpec`), the
    * [[streamingQuantiles]] twin discipline. Counts are commutative:
    * no per-batch sort, no watermark (the current window accumulates
    * for the group's lifetime; restart the query to re-window).
    *
    * Scale notes: state is ≤ `nBins` (bin, count) entries per active
    * group regardless of stream volume; the baseline vector is
    * `nBins` longs broadcast once with the closure, never joined. */
  def streamingPsi(values: Dataset[GroupedValue], baseline: Seq[Long],
      nBins: Int, lo: Double, hi: Double): Dataset[PsiPoint] = {
    require(nBins >= 2, "nBins must be >= 2")
    require(lo < hi, s"lo must be < hi (got [$lo, $hi))")
    require(baseline.length == nBins,
      s"baseline must have exactly nBins=$nBins counts, got ${baseline.length}")
    require(baseline.forall(_ >= 0L), "baseline counts must be >= 0")
    val base = baseline.toArray
    val tPrev = base.sum
    import values.sparkSession.implicits._
    values
      .groupByKey(_.group)
      .flatMapGroupsWithState[PsiBins, PsiPoint](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (g: String, batch: Iterator[GroupedValue],
            state: GroupState[PsiBins]) =>
          val counts = scala.collection.mutable.Map[Int, Long]()
          state.getOption.foreach(_.counts.foreach { case (b, c) =>
            counts(b) = c })
          batch.foreach { gv =>
            // the batch column form verbatim: ((v − lo)·nBins)/(hi−lo),
            // floored, clamped into the edge bins
            val raw = math.floor(
              (gv.v.toDouble - lo) * nBins.toDouble / (hi - lo))
            val bin = math.min(math.max(raw, 0.0),
              (nBins - 1).toDouble).toLong.toInt
            counts(bin) = counts.getOrElse(bin, 0L) + 1L
          }
          state.update(PsiBins(counts.toMap))
          val tCur = counts.valuesIterator.sum
          var psi = 0.0
          var i = 0
          while (i < nBins) {
            val pPrev = (base(i) + 1L).toDouble / (tPrev + nBins.toLong).toDouble
            val pCur = (counts.getOrElse(i, 0L) + 1L).toDouble /
              (tCur + nBins.toLong).toDouble
            // StrictMath, not Math: Spark's `log` column function is
            // StrictMath.log (platform-pinned), and Math.log's hardware
            // intrinsic can differ by one ulp — enough to break the
            // bit-equal twin contract.
            psi += (pPrev - pCur) * java.lang.StrictMath.log(pPrev / pCur)
            i += 1
          }
          Iterator.single(PsiPoint(g, tCur, psi))
      }
  }

  /** Streaming twin of [[graft.operators.Funnel.transitionMatrix]]'s
    * pair-generation stage — the one analytics family that had no
    * incremental form: per-entity state is exactly the LAST seen
    * (ts, id, type); each arriving event with a predecessor emits one
    * (from_type → to_type) pair. The emitted pair stream aggregated by
    * (from, to) — a stateless count plus the per-state normalization,
    * the batch operator's own tail — IS the live transition matrix.
    * The stateful stage stays a pair emitter deliberately: a second
    * stateful aggregation cannot chain behind `flatMapGroupsWithState`
    * in one query, and the pair stream is the reusable surface (Sankey
    * feeds, per-entity sequence audit, downstream windowed matrices).
    *
    * Twin contract: events fold in (ts, id) order within each
    * micro-batch (the deterministic-fold discipline of every stateful
    * op here) and null-typed events drop BEFORE pairing
    * ([[graft.operators.Funnel.frequentSequences]]'s discipline), so a
    * null never breaks a from→to adjacency — the batch filter
    * semantics exactly. With in-order arrival across triggers the
    * cumulative pair multiset equals the batch window's lead pairs
    * (spec-pinned bit-equal, including the normalized `p` doubles).
    *
    * Scale notes: state is ONE (ts, id, type) per ACTIVE entity —
    * constant per key regardless of stream length; no watermark (an
    * entity's chain never expires — bound key cardinality upstream or
    * add a timeout wrapper when entities are unbounded). */
  def streamingTransitions(
      events: Dataset[TypedEvent]): Dataset[TransitionPair] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastTyped, TransitionPair](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, batch: Iterator[TypedEvent],
            state: GroupState[LastTyped]) =>
          var last = state.getOption
          val out = Seq.newBuilder[TransitionPair]
          batch.toSeq
            .filter(_.event_type != null)
            .sortBy(e => (e.ts.getTime, e.event_id))
            .foreach { e =>
              last.foreach(p =>
                out += TransitionPair(uid, p.event_type, e.event_type))
              last = Some(LastTyped(e.ts.getTime, e.event_id,
                e.event_type))
            }
          last.foreach(state.update)
          out.result().iterator
      }
  }

  /** Interval-island maintenance on interval arrivals — a loop over
    * [[graft.operators.Funnel.absorbIntervals]], EXACT by the
    * append-only-merge theorem shape of
    * [[graft.operators.GraphOps.incrementalScc]] (new intervals only
    * merge islands; stored islands preserve coverage AND carry their
    * original counts): after every completed trigger the islands
    * store is bit-equal to a full [[graft.operators.Funnel
    * .mergeIntervals]] over every interval ever seen. Cold start =
    * full merge over the accumulated raw store; afterwards each
    * trigger is islands+delta-sized and the raw append is durability
    * only.
    *
    * `n_merged` exactness needs each batch applied ONCE. The raw store
    * is the op store of [[markerGuarded]]: a completed batch's
    * redelivery is a no-op, and the raw write overwrites its own
    * `rawDir/batch=<id>/`, so it never duplicates ground-truth rows.
    * The absorb is NOT idempotent — re-absorbing a delta inflates its
    * island's `n_merged` — so the islands commit as frame `islands` of
    * a [[graft.operators.FrameVersions]] store at `islandsDir`
    * ([[commitFrame]]): a redelivery whose commit landed skips it, and
    * any other absorbs into the latest commit, still the pre-batch
    * islands.
    *
    * LAYOUT (breaking change vs the pre-r11 flat append): the raw
    * store is `batch=<id>/` partition subdirectories. A pre-r11 FLAT
    * rawDir is refused by the layout guard — migrate once by moving
    * its loose files into a `batch=-1/` subdirectory (any id below
    * the stream's first batch), after which cold start reads the full
    * history again. */
  def streamingIntervals(intervals: DataFrame, rawDir: String,
      islandsDir: String, checkpointDir: String, keyCol: String,
      startCol: String, endCol: String,
      minGap: Long = 0L): StreamingQuery =
    markerGuarded(intervals, checkpointDir, rawDir, "streamingIntervals",
        Seq(rawDir))(_.select(col(keyCol), col(startCol), col(endCol))) {
      (delta, t) =>
        t.record(delta, rawDir): Unit
        commitFrame(t, islandsDir, "islands")(
          Funnel.absorbIntervals(_, delta, keyCol, startCol, endCol,
            minGap),
          Funnel.mergeIntervals(t.spark.read.parquet(rawDir), keyCol,
            startCol, endCol, minGap))
    }

  /** Interval-island maintenance under a CDC interval stream — adds
    * AND deletes interleaved, the takedown-complete upgrade of
    * [[streamingIntervals]] and the interval-side twin of
    * [[streamingSccCdc]]: each trigger applies its additions through
    * [[graft.operators.Funnel.absorbIntervals]] (exact: appends only
    * merge) and its deletions through
    * [[graft.operators.Funnel.deleteIntervals]] (exact: touched keys
    * re-merge from remaining-interval ground truth), so after every
    * completed trigger the islands store is bit-equal to a full
    * [[graft.operators.Funnel.mergeIntervals]] over the EFFECTIVE
    * interval set. The CDC store is SET-semantics on the interval
    * identity (`key`, `start`, `end`) — [[setFold]]: the latest
    * operation per identity wins, a delete beats an add in the same
    * batch, and re-adding a deleted interval resurrects it — so
    * `n_merged` counts LIVE DISTINCT intervals per island (contrast
    * the append-only twin's multiset counts, where redelivered
    * duplicates are deduplicated by the marker, not the store).
    *
    * Ground truth lives in two op stores (`rawDir/batch=<id>/`,
    * `delsDir/batch=<id>/`) under [[markerGuarded]]; the islands are
    * frame `islands` of the versioned store at `islandsDir`, committed
    * once per batch ([[commitFrame]]).
    *
    * Scale notes (100 TB): add-only triggers are islands+delta-sized
    * after the reconciliation fold; the fold itself is one
    * identity-keyed groupBy over the op stores (key-partitioned
    * stores make it partition-local) — the price of delete
    * capability, paid once per trigger; the delete step's re-merge
    * shuffles only the touched keys' rows (the
    * [[graft.operators.Funnel.deleteIntervals]] contract). */
  def streamingIntervalsCdc(events: DataFrame, rawDir: String,
      delsDir: String, islandsDir: String, checkpointDir: String,
      keyCol: String, startCol: String, endCol: String,
      minGap: Long = 0L, opCol: String = "op"): StreamingQuery = {
    val keys = Seq(keyCol, startCol, endCol)
    markerGuarded(events, checkpointDir, rawDir, "streamingIntervalsCdc",
        Seq(rawDir, delsDir))(withOp(opCol, keys)) { (b, t) =>
      val (adds, dels) = split(b, keys, distinct = true)
      t.record(adds, rawDir): Unit
      val hasDels = t.record(dels, delsDir)
      // keepPre = the PRE-batch live set
      def live(keepPre: Boolean) = setFold(t, rawDir, delsDir, keys,
        adds.limit(0), if (keepPre) col("_b") =!= t.batchId else lit(true))
      commitFrame(t, islandsDir, "islands")(
        prev => {
          val now = live(keepPre = false).localCheckpoint()
          // the ADD delta the store hasn't absorbed yet: this batch's
          // adds that are live after the fold (a same-batch delete must
          // not reach the absorb) AND were NOT live before it
          // (re-adding a still-live interval must not double its
          // n_merged count — set semantics; the pre-batch fold is the
          // price of the exactness claim, paid only on add-bearing
          // triggers)
          val newLive = adds.join(now, keys, "left_semi")
            .join(live(keepPre = true), keys, "left_anti")
            .localCheckpoint()
          val st1 =
            if (newLive.isEmpty) prev
            else Funnel.absorbIntervals(prev, newLive, keyCol, startCol,
              endCol, minGap)
          if (!hasDels) st1
          else Funnel.deleteIntervals(st1, now, dels, keyCol, startCol,
            endCol, minGap)
        },
        Funnel.mergeIntervals(live(keepPre = false), keyCol, startCol,
          endCol, minGap))
    }
  }

  /** What [[markerGuarded]] hands a twin's body for one batch.
    * `midCrash` is true when an earlier attempt at this batch started
    * and never finished. */
  private final case class Trigger(spark: SparkSession, fs: FileSystem,
      batchId: Long, midCrash: Boolean) {

    /** True iff op store `dir` holds at least one `batch=<id>/` data
      * subdirectory. The marker tree alone makes the directory EXIST,
      * so a bare `fs.exists` would send `spark.read.parquet` into a
      * data-less directory and fail schema inference — e.g. a
      * delete-only stream whose add store never received a batch. */
    def hasData(dir: String): Boolean = {
      val p = new Path(dir)
      fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isDirectory && st.getPath.getName.startsWith("batch="))
    }

    /** Writes this batch's `rows` of op store `dir` to
      * `dir/batch=<id>/` — an overwrite, so a redelivery replaces
      * whatever a crashed attempt wrote and never duplicates it.
      * Returns false, writing nothing, when `rows` is empty. */
    def record(rows: DataFrame, dir: String): Boolean = {
      val any = !rows.isEmpty
      if (any) rows.write.mode("overwrite").parquet(s"$dir/batch=$batchId")
      any
    }

    /** True iff this batch already committed to the
      * [[graft.operators.FrameVersions]] store at `dir`
      * ([[committedBy]]). */
    def committed(dir: String): Boolean = committedBy(spark, dir, batchId)
  }

  /** True iff the latest commit of the
    * [[graft.operators.FrameVersions]] store at `dir` carries the tag
    * of batch `batchId` or of a later batch. The streaming runtime
    * redelivers only its last batch, so within one checkpoint this is
    * "the batch's commit landed"; the `>=` also keeps an older batch
    * redelivered under a replaced checkpoint from applying twice. A
    * batch-mode commit (tag `-`) never counts. */
  private def committedBy(spark: SparkSession, dir: String,
      batchId: Long): Boolean =
    FrameVersions.latest(spark, dir).tag.toLongOption.exists(_ >= batchId)

  /** The exactly-once trigger every marker-guarded twin runs on.
    *
    * Each micro-batch is `project`ed and materialized once; an empty
    * batch does nothing. Once per started query, before its first
    * write, every directory in `opStores` must pass
    * [[requireBatchLayout]]. Then the two-phase marker under
    * `markerDir/_batches/` — underscore-prefixed, so parquet readers
    * never see it and a vacuum leaves it alone:
    *
    *  - the final marker `<id>` present: the batch completed before,
    *    and its redelivery is a no-op;
    *  - otherwise the started marker (`<id>` with a `started` suffix)
    *    is created, `body` runs, the final marker lands, and the
    *    started marker is deleted;
    *  - a started marker already present means an earlier attempt died
    *    after any subset of the body's writes. The body is told so
    *    (`midCrash`). Every store commits through
    *    [[graft.operators.FrameVersions]] with the batch id as its tag
    *    ([[commitOnce]], the layout and signature twins by hand), so
    *    the crashed attempt's uncommitted version is dropped, the tag
    *    ([[Trigger.committed]]) says whether the batch applied, and the
    *    latest commit otherwise still holds the pre-batch state.
    *
    * Op-store writes go through [[Trigger.record]], so a redelivered
    * batch replaces its own rows. */
  private def markerGuarded(source: DataFrame, checkpointDir: String,
      markerDir: String, who: String, opStores: Seq[String])(
      project: DataFrame => DataFrame)(
      body: (DataFrame, Trigger) => Unit): StreamingQuery = {
    val layoutChecked = new java.util.concurrent.atomic.AtomicBoolean(false)
    source
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val b = project(batch).localCheckpoint()
        if (!b.isEmpty) {
          val spark = batch.sparkSession
          val marker = s"$markerDir/_batches/$batchId"
          val (done, started) = (new Path(marker), new Path(s"$marker.started"))
          val fs = done.getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (layoutChecked.compareAndSet(false, true))
            opStores.foreach(requireBatchLayout(fs, _, who))
          if (!fs.exists(done)) {
            val midCrash = fs.exists(started)
            if (!midCrash) fs.mkdirs(started): Unit
            body(b, Trigger(spark, fs, batchId, midCrash))
            fs.mkdirs(done): Unit
            fs.delete(started, true): Unit
          }
        }
      }
      .start()
  }

  /** The commit step of every twin that maintains a
    * [[graft.operators.FrameVersions]] store at `dir`:
    *
    *  1. a mid-crash redelivery drops the crashed attempt's claim
    *     ([[graft.operators.FrameVersions.recover]]);
    *  2. a latest commit tagged with this batch or a later one
    *     ([[Trigger.committed]]) means the batch applied, so nothing is
    *     computed;
    *  3. otherwise `maintain` runs on the latest committed version, or
    *     `build` runs from the op-store fold when no commit exists, and
    *     `save` commits the result as the next version, tagged with the
    *     batch id;
    *  4. every older version is vacuumed.
    *
    * The pre-batch state is therefore always the latest commit: a
    * crash anywhere needs no rebuild, and a reader never finds the
    * store missing or half-written. A store an in-place save left with
    * no commit is built from the op stores, which hold the ground
    * truth, and the vacuum then drops its root files. */
  private def commitOnce[S](t: Trigger, dir: String)(
      maintain: FrameVersions.Version => S, build: => S)(
      save: (S, String) => Long): Unit = {
    if (t.midCrash) FrameVersions.recover(t.spark, dir)
    if (!t.committed(dir)) {
      val v = FrameVersions.latest(t.spark, dir)
      save(if (v.n >= 1) maintain(v) else build, t.batchId.toString): Unit
    }
    FrameVersions.vacuum(t.spark, dir): Unit
  }

  /** [[commitOnce]] for a one-frame store: `maintain` takes the latest
    * committed frame `name`, and the result commits as `name`. */
  private def commitFrame(t: Trigger, dir: String, name: String)(
      maintain: DataFrame => DataFrame, build: => DataFrame): Unit =
    commitOnce(t, dir)(v => maintain(v.read(name)), build)(
      (df, tag) => FrameVersions.commit(t.spark, dir, Seq(name -> df), tag))

  /** A CDC twin's projection: the op column as the string `_op`, then
    * `cols`. */
  private def withOp(opCol: String, cols: Seq[String])
      : DataFrame => DataFrame =
    _.select(col(opCol).cast("string").as("_op") +: cols.map(col): _*)

  /** The (`start_id`, `end_id`) columns of the edge-stream twins. */
  private val edgeCols = Seq("start_id", "end_id")

  /** A CDC batch's add and del rows over `cols`, each materialized. */
  private def split(b: DataFrame, cols: Seq[String],
      distinct: Boolean = false): (DataFrame, DataFrame) = {
    def rows(op: String) = {
      val r = b.filter(col("_op") === op).select(cols.map(col): _*)
      (if (distinct) r.distinct() else r).localCheckpoint()
    }
    (rows("add"), rows("del"))
  }

  /** A per-id CDC batch: its takedown ids, and its adds folded to one
    * deterministic row per id (max over the `payload` struct — a
    * trigger batch has no client-visible row order) with same-batch
    * takedowns removed, since a takedown beats an add of its batch. */
  private def idOps(b: DataFrame, idCol: String,
      payload: Seq[String]): (DataFrame, DataFrame) = {
    val dels = b.filter(col("_op") === "del")
      .select(col(idCol)).distinct().localCheckpoint()
    val adds = b.filter(col("_op") === "add")
      .groupBy(col(idCol)).agg(max(struct(payload.map(col): _*)).as("_s"))
      .select(col(idCol) +: payload.map(c => col(s"_s.$c").as(c)): _*)
      .join(dels, Seq(idCol), "left_anti")
      .localCheckpoint()
    (adds, dels)
  }

  /** Per-id latest-wins reconciliation of a batchId-keyed op store,
    * shared by the lexical, LM, word-store, PCA, layout and
    * decontamination twins: one row per id from the NEWEST add batch
    * below `limit` (the erasure paths pass the current batchId to see
    * the state BEFORE their own writes), live iff that add is strictly
    * newer than the id's latest takedown in `delsDir` — a same-batch
    * takedown beats the add. Without a takedown store every id's
    * newest add is live. `empty` supplies the (id + payload) schema
    * when the add store has no batches yet. */
  private def latestWinsFold(t: Trigger, addsDir: String,
      delsDir: Option[String], idCol: String, payload: Seq[String],
      empty: => DataFrame, limit: Long = Long.MaxValue): DataFrame =
    if (!t.hasData(addsDir)) empty
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col(idCol))
        .orderBy(col("batch").cast("long").desc)
      val latest = t.spark.read.parquet(addsDir)
        .filter(col("batch").cast("long") < limit)
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col(idCol) +: payload.map(col) :+
          col("batch").cast("long").as("_ab"): _*)
      delsDir.filter(t.hasData).fold(latest) { d =>
        val dMax = t.spark.read.parquet(d)
          .filter(col("batch").cast("long") < limit)
          .groupBy(idCol)
          .agg(max(col("batch").cast("long")).as("_db"))
        latest.join(dMax, Seq(idCol), "left")
          .filter(col("_db").isNull || col("_db") < col("_ab"))
      }.select(col(idCol) +: payload.map(col): _*)
    }

  /** Set-semantics reconciliation of a batchId-keyed add/del op-store
    * pair, shared by the interval, SCC, community and neighbor-agg
    * twins: the identities `keys` whose latest operation is an add,
    * where a delete beats an add of the same batch. `keep` filters the
    * op rows first — `_b` is the batch id, `_o` 1 for an add and 0 for
    * a delete — so a twin can fold the world before (part of) its own
    * batch. `empty` supplies the key schema while a store has no
    * batches yet. */
  private def setFold(t: Trigger, addsDir: String, delsDir: String,
      keys: Seq[String], empty: => DataFrame,
      keep: Column = lit(true)): DataFrame = {
    def ops(dir: String, op: Int) = (
      if (t.hasData(dir)) t.spark.read.parquet(dir)
        .select(keys.map(col) :+ col("batch").cast("long").as("_b"): _*)
      else empty.select(keys.map(col) :+ lit(-1L).as("_b"): _*)
    ).withColumn("_o", lit(op))
    ops(addsDir, 1).unionByName(ops(delsDir, 0)).filter(keep)
      .groupBy(keys.map(col): _*)
      .agg(max(struct(col("_b"), (lit(1) - col("_o")).as("_d"),
        col("_o"))).as("_m"))
      .filter(col("_m._o") === 1)
      .select(keys.map(col): _*)
  }

  /** Refuse a raw store whose root holds loose data files beside (or
    * about to gain) `batch=<id>/` subdirectories — the mixed layout
    * breaks Spark's partition discovery (inconsistent directory depth)
    * or silently loses the `batch` column depending on which files are
    * listed first. Checked once per started query, before the first
    * write. Underscore/dot-prefixed entries (markers, _SUCCESS, CRC
    * sidecars) are ignored, as parquet readers ignore them. */
  private def requireBatchLayout(fs: FileSystem, rawDir: String,
      who: String): Unit = {
    val root = new Path(rawDir)
    if (fs.exists(root)) {
      val loose = fs.listStatus(root).filter { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".") &&
          !(st.isDirectory && n.startsWith("batch="))
      }
      require(loose.isEmpty,
        s"$who: raw store $rawDir holds ${loose.length} loose root " +
          s"entr(ies) (e.g. ${loose.head.getPath.getName}) beside the " +
          "batch=<id>/ layout — a pre-partitioned (flat-append) store. " +
          "Migrate once: move the loose files into a batch=-1/ " +
          "subdirectory, then restart the stream.")
    }
  }

  /** Streaming ANN index ingest — the foreachBatch twin of
    * [[graft.operators.Similarity.updateIndex]], completing the
    * streaming-twin grid (every other incremental primitive already
    * had one: G26s, ST30b): each trigger encodes the delta against the
    * stored index's frozen quantizers and commits it, with its
    * `drift_log` row, as the index's next version tagged with the batch
    * id ([[annCommitOnce]]) — so a streaming corpus drives the full
    * serving lifecycle, retrain recommendation included.
    *
    * Exactly-once per batch via [[markerGuarded]], markers under
    * `indexDir/_batches/`, and the tagged commit: a mid-crash
    * redelivery drops the crashed attempt's uncommitted version, and a
    * batch whose commit landed is not applied again, so every batch
    * is absorbed and ledgered once.
    *
    * Compaction threshold checked per trigger: with `maxFragments` >
    * 0, a trigger whose commit would leave more than that many parquet
    * fragments under `vectors` (the base's plus one per cell the delta
    * lands in) commits compacted
    * ([[graft.operators.Similarity.compactIndex]]'s rewrite, in the
    * same single commit) — the maintenance cadence a daily-ingest
    * serving index needs, without an external scheduler. 0 disables
    * (default: compaction stays an explicit operational decision). */
  def streamingAnnIngest(deltas: DataFrame, indexDir: String,
      checkpointDir: String, vecCol: String, idCol: String,
      maxFragments: Int = 0): StreamingQuery =
    markerGuarded(deltas, checkpointDir, indexDir, "streamingAnnIngest",
        Nil)(_.select(col(idCol), col(vecCol))) { (delta, t) =>
      annCommitOnce(t, indexDir) { (v, ix) =>
        val adds = Similarity.encodeDelta(ix, delta, vecCol, idCol)
        (Some(adds), None, maxFragments > 0 && Similarity.vectorFiles(v) +
          adds.select("centroid_id").distinct().count() > maxFragments)
      }
    }

  /** [[commitOnce]] for the ANN index at `dir`, whose version 0 (the
    * saveIndex root) is a base like any later version: `plan` turns the
    * base and its loaded index into this batch's encoded adds, deleted
    * ids and compact flag, which commit as one
    * [[graft.operators.Similarity.commitIndex]] version. */
  private def annCommitOnce(t: Trigger, dir: String)(
      plan: (FrameVersions.Version, Similarity.AnnIndex) =>
        (Option[DataFrame], Option[DataFrame], Boolean)): Unit =
    commitOnce(t, dir)(identity, Similarity.indexVersion(t.spark, dir)) {
      (v, tag) =>
        val (adds, dels, compact) = plan(v, Similarity.loadIndexAt(v))
        Similarity.commitIndex(v, tag, adds, dels, compact)
    }

  /** Dup-cluster maintenance under a CDC stream of verified pairs and
    * document TAKEDOWNS — the dedup member of the CDC-twin grid: each
    * trigger applies its pair additions through
    * [[graft.operators.Dedup.incrementalDupClusters]] (exact: appends
    * only merge, label-quotient-sized) and its document deletions
    * through [[graft.operators.Dedup.decrementalDupClusters]] (exact:
    * touched clusters re-run CC over their internal LIVE pairs), so
    * the stored clusters track the live pair graph. `add` rows carry
    * (`id_a`, `id_b`); `del` rows carry the removed doc id in `id_a`.
    *
    * Pair LIVENESS (the fold's contract): a pair is live iff its
    * latest add batch is strictly newer than both endpoints' latest
    * deletion — so a same-batch takedown beats the pair's add, a
    * takedown kills every pair the doc had accumulated, and a LATER
    * re-add of a pair resurrects the doc with exactly its post-return
    * pairs (the pre-takedown pairs stay dead — erasure means erased).
    * Vertex rows follow one rule on BOTH the incremental and the
    * cold-start path: a doc has a row iff its own latest takedown is
    * older than the latest pair-add naming it — so a doc whose only
    * pair died with the OTHER endpoint's takedown remains as a
    * singleton (IT was never erased), while erased docs leave; on
    * live-pair endpoints the labels are bit-equal to a full CC
    * recompute over the live pair graph (the spec asserts both).
    *
    * Ground truth = two op stores (`pairsDir/batch=`, `delsDir/batch=`)
    * under [[markerGuarded]], markers under `pairsDir`. The clusters
    * are frame `clusters` of the versioned store at `clustersDir`,
    * committed once per batch ([[commitFrame]]). */
  def streamingDupClustersCdc(events: DataFrame, pairsDir: String,
      delsDir: String, clustersDir: String, checkpointDir: String,
      opCol: String = "op", maxIter: Int = 25): StreamingQuery =
    markerGuarded(events, checkpointDir, pairsDir,
        "streamingDupClustersCdc", Seq(pairsDir, delsDir))(
        withOp(opCol, Seq("id_a", "id_b"))) { (b, t) =>
      val spark = t.spark
      val adds = b.filter(col("_op") === "add")
        .select("id_a", "id_b").distinct().localCheckpoint()
      val dels = b.filter(col("_op") === "del")
        .select(col("id_a").as("id")).distinct().localCheckpoint()
      val hasAdds = t.record(adds, pairsDir)
      val hasDels = t.record(dels, delsDir)
      lazy val pRaw =
        (if (t.hasData(pairsDir)) spark.read.parquet(pairsDir)
        else adds.limit(0).withColumn("batch", lit(-1L)))
          .select(col("id_a"), col("id_b"),
            col("batch").cast("long").as("_b"))
      // each doc's latest takedown batch
      lazy val dMax =
        (if (t.hasData(delsDir)) spark.read.parquet(delsDir)
        else dels.limit(0).withColumn("batch", lit(-1L)))
          .groupBy("id").agg(max(col("batch").cast("long")).as("_db"))
      // live pairs: latest add strictly newer than each endpoint's
      // latest takedown (same-batch del wins)
      def livePairs() = pRaw.groupBy("id_a", "id_b")
        .agg(max(col("_b")).as("_ab"))
        .join(dMax.withColumnsRenamed(
          Map("id" -> "id_a", "_db" -> "_da")), Seq("id_a"), "left")
        .join(dMax.withColumnsRenamed(
          Map("id" -> "id_b", "_db" -> "_dbb")), Seq("id_b"), "left")
        .filter((col("_da").isNull || col("_da") < col("_ab")) &&
          (col("_dbb").isNull || col("_dbb") < col("_ab")))
        .select("id_a", "id_b")
      commitFrame(t, clustersDir, "clusters")(
        prev => {
          val l1 =
            if (!hasAdds) prev
            else Dedup.incrementalDupClusters(adds, prev, maxIter)
          if (!hasDels) l1
          else Dedup.decrementalDupClusters(livePairs(), dels, l1, maxIter)
        }, {
          val live = livePairs().localCheckpoint()
          // vertex rule (matches the composed primitives): a doc has a
          // row iff its own latest takedown is older than the latest
          // pair-add naming it — so an endpoint whose only pair died
          // with the OTHER doc's takedown stays, while erased docs leave
          val verts = pRaw.select(col("id_a").as("id"), col("_b"))
            .unionAll(pRaw.select(col("id_b").as("id"), col("_b")))
            .groupBy("id").agg(max(col("_b")).as("_vb"))
            .join(dMax, Seq("id"), "left")
            .filter(col("_db").isNull || col("_db") < col("_vb"))
            .select("id")
          Dedup.connectedComponents(verts, "id", live, maxIter)
        })
    }

  /** ANN index maintenance under a CDC vector stream — adds AND
    * deletes interleaved, the takedown-complete upgrade of
    * [[streamingAnnIngest]] and the ANN member of the CDC-twin grid:
    * per trigger, additions encode against the frozen quantizers and
    * deletions tombstone, in ONE commit
    * ([[graft.operators.Similarity.commitIndex]]) — a same-batch delete
    * beats its add (the row is born dead). Re-adding a previously
    * deleted id RESURRECTS it, and re-adding a currently LIVE id
    * UPDATES it: when any add id has a stored row or a tombstone, the
    * trigger commits compacted, so the new version holds the live rows
    * minus the re-added ids plus the adds, and only this batch's
    * tombstones (clearing an old tombstone without the physical purge
    * would resurrect the stale row beside the new one — the documented
    * duplicate-live-rows id-contract violation). Same-id adds WITHIN one
    * trigger fold to a single deterministic representative first — so
    * after every completed trigger the index holds exactly one live
    * row per live id, whatever the input stream did.
    * Resurrections/updates are rare relative to plain adds and
    * deletes, which is the asymmetry that pricing them at one inline
    * compaction accepts.
    *
    * Crash safety is [[streamingAnnIngest]]'s: the batch-tagged commit
    * under [[markerGuarded]] applies each batch exactly once. */
  def streamingAnnCdc(events: DataFrame, indexDir: String,
      checkpointDir: String, vecCol: String, idCol: String,
      opCol: String = "op"): StreamingQuery =
    markerGuarded(events, checkpointDir, indexDir, "streamingAnnCdc", Nil)(
        withOp(opCol, Seq(idCol, vecCol))) { (b, t) =>
      // Fold adds to ONE row per id: a trigger batch has no
      // client-visible row order, so "latest" is undefined within it;
      // the fold picks a deterministic representative (max by Spark's
      // array ordering) — re-running the batch always yields the same
      // index.
      val adds = b.filter(col("_op") === "add")
        .groupBy(col(idCol)).agg(max(col(vecCol)).as(vecCol))
        .localCheckpoint()
      val dels = b.filter(col("_op") === "del")
        .select(col(idCol)).distinct().localCheckpoint()
      val (hasAdds, hasDels) = (!adds.isEmpty, !dels.isEmpty)
      annCommitOnce(t, indexDir) { (v, ix) =>
        def hit(frame: String) = v.has(frame) && !v.read(frame)
          .select(col(idCol)).join(broadcast(adds.select(col(idCol))),
            Seq(idCol), "left_semi").isEmpty
        (Option.when(hasAdds)(Similarity.encodeDelta(ix, adds, vecCol,
            idCol)), Option.when(hasDels)(dels),
          hasAdds && (hit("vectors") || hit("tombstones")))
      }
    }

  /** EXACT SCC maintenance under a CDC edge stream — adds AND deletes
    * interleaved: each trigger applies its additions through
    * [[graft.operators.GraphOps.incrementalScc]] (exact: appends only
    * merge) and then its deletions through
    * [[graft.operators.GraphOps.decrementalScc]] (exact: deletes only
    * split, recomputed from remaining-edge ground truth), so after
    * every completed trigger the stored labels are bit-equal to a
    * full recompute over the EFFECTIVE edge set. Within a batch,
    * deletes win over adds of the same edge (the order the two
    * primitives apply); across batches the latest operation wins —
    * re-adding a previously deleted edge resurrects it ([[setFold]]).
    * An add-only stream (every row `op = "add"`) is the append-only
    * case: cold start = full SCC, then every trigger is the add step.
    *
    * Ground truth lives in two op stores (`edgesDir/batch=<id>/`,
    * `delsDir/batch=<id>/`) under [[markerGuarded]], markers under
    * `edgesDir`. The state is one versioned store at `stateDir` with
    * frames `labels` (`id`, `scc`) and `quotient` (`src_scc`,
    * `dst_scc`, the condensation), committed together once per batch
    * ([[commitOnce]]), so the two never fall out of step. An
    * `edgesDir` holding loose appended files is refused by the layout
    * guard.
    *
    * Scale notes (100 TB): add-only triggers never read the
    * accumulated edges — the quotient frame makes them
    * condensation+delta-sized; a delete-bearing trigger pays ONE
    * latest-wins reconciliation groupBy over the op stores (edge-key
    * rows — an scc/edge-bucketed store makes it partition-local)
    * before the delta-proportional decremental step; takedowns are
    * rare relative to appends, which is the asymmetry this design
    * prices in. */
  def streamingSccCdc(events: DataFrame, edgesDir: String,
      delsDir: String, stateDir: String, checkpointDir: String,
      opCol: String = "op", maxRounds: Int = 20,
      maxIter: Int = 25): StreamingQuery =
    markerGuarded(events, checkpointDir, edgesDir, "streamingSccCdc",
        Seq(edgesDir, delsDir))(withOp(opCol, edgeCols)) { (b, t) =>
      val (adds, dels) = split(b, edgeCols)
      val hasAdds = t.record(adds, edgesDir)
      val hasDels = t.record(dels, delsDir)
      def remaining() = setFold(t, edgesDir, delsDir, edgeCols, adds.limit(0))
      commitOnce(t, stateDir)(
        v => {
          val prev = GraphOps.SccState(v.read("labels"), v.read("quotient"))
          val st1 =
            if (!hasAdds) prev
            else GraphOps.incrementalScc(adds, prev.labels, prev.quotient,
              maxRounds, maxIter)
          if (!hasDels) st1
          else GraphOps.decrementalScc(remaining(), dels, st1.labels,
            st1.quotient, maxRounds, maxIter)
        }, {
          val all = remaining()
          val lb = GraphOps.stronglyConnectedComponents(all, maxRounds,
            maxIter)
          GraphOps.SccState(lb, GraphOps.condensation(all, lb))
        })((st, tag) => FrameVersions.commit(t.spark, stateDir,
          Seq("labels" -> st.labels, "quotient" -> st.quotient), tag))
    }

  /** Community-label maintenance under a CDC edge stream — adds AND
    * deletes interleaved, the community-side twin of
    * [[streamingSccCdc]]: each trigger applies its additions through
    * [[graft.operators.GraphOps.incrementalCommunities]] (seeded
    * gated moves over the delta's hop-region) and then its deletions
    * through [[graft.operators.GraphOps.decrementalCommunities]]
    * (touched communities rebuilt from remaining-edge ground truth),
    * so the stored labels track the EFFECTIVE edge set. Within a
    * batch, deletes win over adds of the same edge (the primitive
    * application order — the add lands, then the delete-side rebuild
    * runs on ground truth that excludes it); across batches the
    * latest operation wins, so re-adding a deleted edge resurrects it
    * and its region re-coalesces. An add-only stream is the
    * append-only case: cold start = plain gated
    * [[graft.operators.GraphOps.louvain]], then every trigger is the
    * add step. Unlike the SCC twin there is no bit-equality theorem —
    * community maintenance is the documented delta-local
    * approximation on BOTH sides, with periodic full
    * [[graft.operators.GraphOps.leiden]] runs as the consolidation
    * story.
    *
    * Ground truth lives in two op stores (`edgesDir/batch=<id>/`,
    * `delsDir/batch=<id>/`) under [[markerGuarded]], markers under
    * `edgesDir`, reconciled per edge by [[setFold]]; the labels are
    * frame `labels` of the versioned store at `labelsDir`, committed
    * once per batch ([[commitFrame]]). The incremental step needs the
    * full effective edge set (its hop-region induces from it), so
    * every trigger pays one reconciliation fold over the op stores.
    * The add-step reconciliation EXCLUDES the current batch's deletes
    * (the world the adds land in); the delete step reconciles
    * everything. */
  def streamingCommunitiesCdc(events: DataFrame, edgesDir: String,
      delsDir: String, labelsDir: String, checkpointDir: String,
      opCol: String = "op", rounds: Int = 4,
      hops: Int = 2): StreamingQuery =
    markerGuarded(events, checkpointDir, edgesDir,
        "streamingCommunitiesCdc", Seq(edgesDir, delsDir))(
        withOp(opCol, edgeCols)) { (b, t) =>
      val (adds, dels) = split(b, edgeCols)
      val hasAdds = t.record(adds, edgesDir)
      val hasDels = t.record(dels, delsDir)
      // `asOfAdds` drops the CURRENT batch's deletes from the fold —
      // the effective set the add step lands in (del still beats add
      // within one batch because the delete step re-derives from the
      // FULL fold after)
      def effective(asOfAdds: Boolean) = setFold(t, edgesDir, delsDir,
        edgeCols, adds.limit(0),
        if (asOfAdds) col("_o") === 1 || col("_b") =!= t.batchId
        else lit(true))
      commitFrame(t, labelsDir, "labels")(
        prev => {
          val l1 =
            if (!hasAdds) prev
            else GraphOps.incrementalCommunities(effective(asOfAdds = true),
              adds, prev, rounds = rounds, hops = hops)
          if (!hasDels) l1
          else GraphOps.decrementalCommunities(effective(asOfAdds = false),
            dels, l1, rounds = rounds)
        },
        GraphOps.louvain(effective(asOfAdds = false), rounds = rounds,
          schedule = "g" * rounds))
    }

  /** Message-passing feature store under a CDC edge stream — the
    * streaming twin of [[graft.operators.GraphOps.maintainNeighborAgg]],
    * and the simplest CDC twin in the grid because the batch primitive
    * already takes adds and deletes through ONE signature (the
    * locality theorem has no add/delete asymmetry): each trigger folds
    * the two batchId-keyed op stores with [[setFold]] (the
    * [[streamingSccCdc]] discipline — same-batch del beats add,
    * re-adds resurrect) and hands the primitive the effective edge
    * set as ground truth plus the WHOLE batch (adds ∪ dels) as the
    * changed rows, so after every completed trigger the stored
    * aggregates are bit-equal to a full [[graft.operators.GraphOps
    * .neighborAgg]] over the effective edges. `features` is the
    * static base-feature frame (ground truth, re-read per trigger by
    * reference). Cold start = one full run.
    *
    * Exactly-once via [[markerGuarded]], markers under `edgesDir`; the
    * aggregates are frame `agg` of the versioned store at `aggDir`,
    * committed once per batch ([[commitFrame]]).
    *
    * Scale notes (100 TB): per trigger, one latest-wins fold over the
    * op stores plus the primitive's change-neighborhood-sized work;
    * each commit writes the whole aggregate frame (node-sized, not
    * edge-sized). */
  def streamingNeighborAgg(events: DataFrame, features: DataFrame,
      edgesDir: String, delsDir: String, aggDir: String,
      checkpointDir: String, idCol: String, featCols: Seq[String],
      rounds: Int = 1, direction: String = "in", agg: String = "sum",
      opCol: String = "op"): StreamingQuery =
    markerGuarded(events, checkpointDir, edgesDir, "streamingNeighborAgg",
        Seq(edgesDir, delsDir))(withOp(opCol, edgeCols)) { (b, t) =>
      val (adds, dels) = split(b, edgeCols)
      t.record(adds, edgesDir): Unit
      t.record(dels, delsDir): Unit
      val effective = setFold(t, edgesDir, delsDir, edgeCols, adds.limit(0))
        .localCheckpoint()
      commitFrame(t, aggDir, "agg")(
        GraphOps.maintainNeighborAgg(effective, adds.unionByName(dels),
          features, _, idCol, featCols, rounds, direction, agg),
        GraphOps.neighborAgg(effective, features, idCol, featCols, rounds,
          direction, agg))
    }

  /** The body the lexical, trigram-LM, word-store and PCA-moment twins
    * share: a per-id CDC stream of (`idCol`, `payloadCol`) rows kept in
    * two op stores (`docsDir/batch=`, `delsDir/batch=`) under
    * [[markerGuarded]], markers under `docsDir`, and one maintained
    * [[graft.operators.FrameVersions]] store at `storeDir`.
    *
    * Fold contract (the CDC-grid standard, [[latestWinsFold]]): a doc
    * is live iff its latest add batch is strictly newer than its
    * latest takedown — a same-batch takedown beats the add, re-sending
    * a live id REPLACES its content, and a LATER re-add of a taken-down
    * id resurrects it with its new content (erasure means erased).
    * Same-trigger duplicate adds fold to one deterministic row.
    *
    * Each trigger runs `maintain(load(), adds, dels, leaving)` on the
    * latest committed version, or `build`s a store with no committed
    * version from the fold of every batch, and `save`s the result as
    * the next version — the [[commitOnce]] step, so crash recovery
    * needs no branch. `leaving` yields the rows that leave the store —
    * takedowns and the old rows of live re-adds — recovered from the
    * op-store fold AS OF THE PREVIOUS BATCH, since a store that keeps
    * no per-document rows cannot subtract what it cannot see; it is
    * computed only when a twin asks for it. */
  private def maintainedDocStore[S](events: DataFrame, docsDir: String,
      delsDir: String, storeDir: String, checkpointDir: String,
      idCol: String, payloadCol: String, opCol: String, who: String)(
      load: SparkSession => S,
      maintain: (S, DataFrame, DataFrame, () => DataFrame) => S,
      build: DataFrame => S, save: (S, String) => Long): StreamingQuery =
    markerGuarded(events, checkpointDir, docsDir, who,
        Seq(docsDir, delsDir))(withOp(opCol, Seq(idCol, payloadCol))) {
      (b, t) =>
        val (adds, dels) = idOps(b, idCol, Seq(payloadCol))
        t.record(adds, docsDir): Unit
        t.record(dels, delsDir): Unit
        def live(limit: Long) = latestWinsFold(t, docsDir, Some(delsDir),
          idCol, Seq(payloadCol), adds.limit(0), limit)
        commitOnce(t, storeDir)(_ => {
          // this trigger's own writes are excluded by the < filter
          lazy val leaving = live(t.batchId)
            .join(broadcast(dels.unionByName(adds.select(col(idCol)))
              .distinct()), Seq(idCol), "left_semi")
            .localCheckpoint()
          maintain(load(t.spark), adds, dels, () => leaving)
        }, build(live(Long.MaxValue)))(save)
    }

  /** Lexical (BM25/TF-IDF) index maintenance under a CDC document
    * stream — adds AND takedowns interleaved, the serving-store twin
    * that completes the lexical tier's CDC story (every other store —
    * ANN, SCC, communities, intervals, neighborAgg, dup clusters,
    * decontamination — already has one): each trigger applies its
    * batch through ONE
    * [[graft.operators.Relevance.maintainLexIndex]] call and
    * commits the refreshed four-frame index as the store's next
    * version ([[graft.operators.Relevance.saveLexIndex]]), so after every
    * completed trigger the served BM25/TF-IDF weights are bit-equal
    * to a full [[graft.operators.Relevance.buildLexIndex]] over the
    * EFFECTIVE corpus.
    *
    * The fold, op stores and crash handling are
    * [[maintainedDocStore]]'s. `maintainLexIndex` alone would let adds
    * win, so the same-batch takedowns leave the adds first; the index
    * keeps per-document postings, so it takes the takedown ids, never
    * the leaving text.
    *
    * Scale notes (100 TB): per trigger the corpus-scale posting store
    * is scanned once inside `maintainLexIndex` (broadcast anti/semi
    * joins on the change-batch ids); added text tokenizes
    * delta-sized; the df merge is vocabulary-sized. Each commit
    * writes the whole store — partitioning `postings/` by a
    * doc-id bucket and rewriting only touched buckets is the
    * documented step-up at real scale (the [[streamingDecontaminate]]
    * caveat, same shape). */
  def streamingLexIndex(events: DataFrame, docsDir: String,
      delsDir: String, indexDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      opCol: String = "op"): StreamingQuery =
    maintainedDocStore[Relevance.LexIndex](events, docsDir, delsDir,
        indexDir, checkpointDir, idCol, textCol, opCol,
        "streamingLexIndex")(
      Relevance.loadLexIndex(_, indexDir),
      (ix, adds, dels, _) =>
        Relevance.maintainLexIndex(ix, adds, dels, idCol, textCol),
      Relevance.buildLexIndex(_, idCol, textCol),
      Relevance.saveLexIndex(_, indexDir, _))

  /** Trigram-LM count-store maintenance under a CDC document stream —
    * the n-gram model's serving-store twin (the [[streamingLexIndex]]
    * shape for [[graft.operators.Relevance.TrigramLm]]): each trigger
    * applies its batch through ONE
    * [[graft.operators.Relevance.maintainTrigramLm]] call and commits
    * the refreshed two-frame store as its next version
    * ([[graft.operators.Relevance.saveTrigramLm]]), so after every
    * completed trigger the stored counts — and every Kneser–Ney table
    * derived from them — are bit-equal to a full
    * [[graft.operators.Relevance.buildTrigramLm]] over the EFFECTIVE
    * corpus.
    *
    * The fold, op stores and crash handling are
    * [[maintainedDocStore]]'s. The store keeps no per-document rows, so
    * the erasure path takes each leaving doc's text from the op-store
    * fold as of the previous batch (ground truth is still on disk at
    * takedown time — exactly the
    * [[graft.operators.Relevance.maintainTrigramLm]] contract); live
    * re-adds ship their old rows the same way, so the maintain call's
    * clash guard never fires from this twin.
    *
    * Scale notes (100 TB): per trigger the model-scale count store is
    * read once inside `maintainTrigramLm` (two vocabulary-bounded
    * full joins); changed-doc trigram extraction is delta-sized (the
    * prev-live lookup prunes the op store to batches < this one and
    * semi-joins on the change ids); the corpus is never rescanned.
    * Each commit writes the whole store — bucketing `model/` by a
    * trigram hash and rewriting only touched buckets is
    * the documented step-up at real scale. */
  def streamingTrigramLm(events: DataFrame, docsDir: String,
      delsDir: String, lmDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      opCol: String = "op"): StreamingQuery =
    maintainedDocStore[Relevance.TrigramLm](events, docsDir, delsDir,
        lmDir, checkpointDir, idCol, textCol, opCol,
        "streamingTrigramLm")(
      Relevance.loadTrigramLm(_, lmDir),
      (lm, adds, _, leaving) =>
        Relevance.maintainTrigramLm(lm, adds, leaving(), idCol, textCol),
      Relevance.buildTrigramLm(_, idCol, textCol),
      Relevance.saveTrigramLm(_, lmDir, _))

  /** Tokenizer word-store maintenance under a CDC document stream —
    * the [[streamingTrigramLm]] shape for
    * [[graft.operators.Tokenizer.WordStore]] (the store both subword
    * inducers derive from): each trigger applies its batch through ONE
    * [[graft.operators.Tokenizer.maintainWordStore]] call and commits
    * the two-frame store as its next version, so after every completed
    * trigger the stored (word, wc) table — and any BPE merge table or
    * unigram candidate
    * vocabulary re-induced from it — is bit-equal to a full
    * [[graft.operators.Tokenizer.buildWordStore]] over the effective
    * corpus. Fold contract, op stores, the prev-batch erasure-text
    * recovery, and crash handling are [[maintainedDocStore]]'s;
    * tokenizers retrain rarely, so in production this twin runs at a
    * slow trigger and the re-induction runs on demand off the
    * always-current table. */
  def streamingWordStore(events: DataFrame, docsDir: String,
      delsDir: String, storeDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      opCol: String = "op"): StreamingQuery =
    maintainedDocStore[Tokenizer.WordStore](events, docsDir, delsDir,
        storeDir, checkpointDir, idCol, textCol, opCol,
        "streamingWordStore")(
      Tokenizer.loadWordStore(_, storeDir),
      (st, adds, _, leaving) =>
        Tokenizer.maintainWordStore(st, adds, leaving(), idCol, textCol),
      Tokenizer.buildWordStore(_, idCol, textCol),
      Tokenizer.saveWordStore(_, storeDir, _))

  /** PCA-moment maintenance under a CDC embedding stream — the
    * [[streamingWordStore]] shape for
    * [[graft.operators.Similarity.MomentsStore]] (the exact-integer
    * second-moment table the rotation/whitening fits ride): each
    * trigger applies its batch through ONE
    * [[graft.operators.Similarity.maintainPcaMoments]] call and
    * commits the two-frame store as its next version, so after every
    * completed trigger
    * the stored moments — and any [[graft.operators.Similarity
    * .givensCascadeFitFromMoments]] /
    * [[graft.operators.Similarity.pcaFitFromMoments]] refit off them
    * — are bit-equal to a one-shot
    * [[graft.operators.Similarity.pcaMoments]] over the effective
    * corpus. Fold contract, op stores, prev-batch erasure-vector
    * recovery, and crash handling are [[maintainedDocStore]]'s;
    * rotations refit rarely, so this twin runs at a slow trigger and
    * the refit runs on demand off the always-current table. */
  def streamingPcaMoments(events: DataFrame, docsDir: String,
      delsDir: String, storeDir: String, checkpointDir: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      opCol: String = "op"): StreamingQuery =
    maintainedDocStore[Similarity.MomentsStore](events, docsDir, delsDir,
        storeDir, checkpointDir, idCol, vecCol, opCol,
        "streamingPcaMoments")(
      Similarity.loadMomentsStore(_, storeDir),
      (st, adds, _, leaving) =>
        Similarity.maintainPcaMoments(st, adds, leaving(), idCol, vecCol),
      Similarity.buildMomentsStore(_, idCol, vecCol),
      Similarity.saveMomentsStore(_, storeDir, _))

  /** Daily-increment near-dedup under a STREAM of new documents — the
    * [[graft.operators.Dedup.SigIndex]]'s CDC twin, the last serving
    * store to join the maintained grid (it rolled forward batch-only
    * until now): each trigger dedups its batch against the persisted
    * signature index through
    * [[graft.operators.Dedup.incrementalDedupFromIndex]] — the
    * batch's signatures derive under the STORE'S OWN identity, so no
    * trigger can misalign seed/shingle/hash family — writes the
    * per-doc verdicts to `reportDir/batch=<id>/`, appends the KEPT
    * docs to the corpus (`docsDir/batch=<id>/`), and rolls the index
    * forward (the kept docs' signatures union onto the store). After
    * every completed trigger the store equals the batch-mode
    * increment fold applied in batch order, and its signatures equal
    * a fresh signing of the live corpus (the spec asserts both).
    * Same-batch duplicate ids fold deterministically (max text — the
    * CDC fold), matching the one-id-space corpus contract.
    *
    * Exactly-once via [[markerGuarded]], markers under `storeDir`. The
    * roll-forward commits as the next [[graft.operators.FrameVersions]]
    * version tagged with the batch id, after the verdicts and kept docs
    * are recorded, and older versions are then vacuumed. A redelivery
    * whose commit landed does nothing more ([[Trigger.committed]]); one
    * whose commit did not land drops the crashed attempt's claim and
    * re-runs the increment against the latest committed index, which
    * is still the pre-batch state — a partial roll-forward is never
    * visible, so no re-sign pass is needed.
    *
    * Caller seeds `docsDir/batch=-1/` with the base corpus and
    * [[graft.operators.Dedup.saveSigIndex]]es its signatures once.
    *
    * Scale notes (100 TB): every trigger is batch-sized — the corpus
    * is reached only through its stored signatures and id-targeted
    * text fetches, never re-shingled. */
  def streamingSigIndexDedup(newDocs: DataFrame, docsDir: String,
      storeDir: String, reportDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, bands: Int = 4,
      maxBucketSize: Int = 1000): StreamingQuery =
    markerGuarded(newDocs, checkpointDir, storeDir,
        "streamingSigIndexDedup", Seq(docsDir, reportDir))(
        _.groupBy(col(idCol)).agg(max(col(textCol)).as(textCol))) {
      (b, t) =>
        if (t.midCrash) FrameVersions.recover(t.spark, storeDir)
        def sign(ix: Dedup.SigIndex, docs: DataFrame): DataFrame =
          if (ix.portable)
            Dedup.minhashSignaturesPortable(docs, textCol, idCol,
              ix.numHashes, ix.shingleSize, ix.seed)
          else Dedup.minhashSignatures(docs, textCol, idCol,
            ix.numHashes, ix.shingleSize)
        if (!t.committed(storeDir)) {
          val ix = Dedup.loadSigIndex(t.spark, storeDir)
          val corpus = t.spark.read.parquet(docsDir)
            .filter(col("batch").cast("long") < t.batchId)
            .select(col(idCol), col(textCol))
          val rep = Dedup.incrementalDedupFromIndex(ix,
              corpus.localCheckpoint(), b, textCol, idCol, threshold,
              bands, maxBucketSize)
            .localCheckpoint()
          t.record(rep, reportDir): Unit
          val kept = b.join(rep.filter(col("reason") === "kept")
              .select(col("doc_id").as(idCol)), Seq(idCol))
            .localCheckpoint()
          // roll forward: the kept docs' signatures (derived under the
          // store identity) union onto the store as its next version
          if (t.record(kept, docsDir))
            Dedup.saveSigIndex(
              ix.copy(sigs = ix.sigs.unionByName(sign(ix, kept))),
              storeDir, t.batchId.toString): Unit
        }
        // also on a redelivery that found its commit; a batch that kept
        // no doc committed nothing
        if (t.committed(storeDir))
          FrameVersions.vacuum(t.spark, storeDir): Unit
    }

  /** PageRank under a STREAM of edge deltas — the
    * [[graft.operators.GraphOps.RankStore]]'s CDC twin: each trigger
    * appends its edge batch to the accumulated edge store
    * (`edgesDir/batch=<id>/`, durability), warm-starts
    * [[graft.operators.GraphOps.incrementalPageRank]] from the
    * latest committed scores over the grown graph (under the STORE'S
    * damping — the identity rides the meta, so no trigger can
    * misalign it), and commits the result as the next immutable score
    * version. After every completed trigger the served scores equal
    * the batch-mode warm-start fold applied in batch order — to
    * summation-order ulps: PageRank's inflow sums doubles, so two
    * physically different but logically equal edge frames can differ
    * in the last bit (the same caveat the q_g3-family oracles absorb
    * with ROUND(8); the spec asserts per-node agreement at 1e-12).
    *
    * Exactly-once WITHOUT a separate marker store: the rank store's
    * own commit tags carry the batch id — a latest commit tagged with
    * this batch means the batch fully applied (its edges wrote BEFORE
    * the commit), so redelivery is a no-op ([[committedBy]], the check
    * the marker-guarded twins share); an uncommitted crash leaves the
    * store at the previous version exactly (versions are immutable, a
    * partial `_v<n+1>` is invisible, and the redelivery drops its
    * claim with [[graft.operators.FrameVersions.recover]]), so
    * redelivery recomputes from the pre-batch scores — never from a
    * half-applied state. Versions are kept; the caller vacuums.
    *
    * Caller seeds `edgesDir/batch=-1/` with the base edge table and
    * `saveRankStore`s a converged base run once.
    *
    * Scale notes (100 TB edge table): per trigger = `warmRounds`
    * joins of the rank vector against the accumulated edge store
    * (the [[graft.operators.GraphOps.pageRank]] round shape — AQE
    * broadcasts the rank side, the edge store never re-shuffles) plus
    * one batch-sized append; the warm start is what makes per-trigger
    * maintenance affordable — O(1) rounds instead of the full cold
    * schedule. */
  def streamingPageRank(edgeBatches: DataFrame, edgesDir: String,
      scoresDir: String, checkpointDir: String, warmRounds: Int = 2,
      srcCol: String = "start_id", dstCol: String = "end_id")
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val layoutChecked =
      new java.util.concurrent.atomic.AtomicBoolean(false)
    edgeBatches
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        import graft.operators.GraphOps
        val b = batch
          .select(col(srcCol).cast("long").as("start_id"),
            col(dstCol).cast("long").as("end_id"))
          .localCheckpoint()
        if (!b.isEmpty) {
          val fs = new Path(edgesDir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          if (layoutChecked.compareAndSet(false, true))
            requireBatchLayout(fs, edgesDir, "streamingPageRank")
          if (!committedBy(spark, scoresDir, batchId)) {
            // a crashed attempt of this batch may hold the next claim
            FrameVersions.recover(spark, scoresDir)
            b.write.mode("overwrite")
              .parquet(s"$edgesDir/batch=$batchId")
            val edges = spark.read.parquet(edgesDir)
              .select("start_id", "end_id")
            val store = GraphOps.loadRankStore(spark, scoresDir)
            val scores = GraphOps.incrementalPageRank(edges,
              store.scores, store.damping, warmRounds)
            GraphOps.saveRankStore(spark, scoresDir, scores,
              store.damping, tag = batchId.toString): Unit
          }
        }
      }
      .start()
  }

  /** Streaming ANN SEARCH off the maintained index — the QUERY side of
    * the retrieval lifecycle's streaming story (the ingest side is
    * [[streamingAnnCdc]]): query vectors arrive as a stream, and each
    * trigger serves its batch through ONE
    * [[graft.operators.Similarity.serveTopK]] pass against the index
    * AS OF THE TRIGGER — loadIndex re-reads the layout every batch
    * and the shared serving body honors the store's BASIS and CODEC
    * identities (rotation record, residual encoding), so results
    * track maintenance (updates, deletes via the tombstone anti-join,
    * compaction, retrains, rotated/residual indexes) with snapshot
    * semantics: a trigger's results equal the batch query against the
    * index state it loaded, bit for bit.
    *
    * Results land batchId-keyed (`outDir/batch=<id>`, idempotent
    * overwrite), so a redelivered batch rewrites its own directory —
    * no marker tree needed (search is read-only on the index).
    *
    * Single-writer interplay (COVERAGE.md contract): the trigger READS
    * the index layout a maintenance writer may overwrite — run search
    * triggers interleaved with maintenance under the same scheduler
    * (the streaming runtime serializes foreachBatch bodies per query;
    * across queries, point search at a snapshot copy or pause
    * maintenance), exactly the discipline the bench fixtures follow.
    *
    * Scale notes (100 TB): per trigger the probed-cells join prunes
    * the partitioned `vectors/` store to nProbe of k directories;
    * queries are batch-sized and broadcast against them; the float
    * corpus never ships (ADC on codes). */
  def streamingAnnSearch(queries: DataFrame, indexDir: String,
      outDir: String, checkpointDir: String,
      vecCol: String = "embedding", idCol: String = "vec_id",
      topK: Int = 5, nProbe: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery =
    queries
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.select(col(idCol), col(vecCol)).localCheckpoint()
        if (!b.isEmpty) {
          // serveTopK = loadIndex (tombstone-filtered, rotation-
          // checked) + rotateQueries + ivfPqTopK — the stream serves
          // through the SAME code path as the batch serving row, so a
          // rotated index can never be queried in the wrong basis here
          graft.operators.Similarity.serveTopK(spark, indexDir, b,
              vecCol, idCol, topK = topK, nProbe = nProbe)
            .write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        }
      }
      .start()

  /** Streaming CDC maintenance of a clustered layout store — the
    * layout family joins the CDC grid: `op = "add"` rows (carrying
    * the clustered value columns) land via
    * [[graft.operators.Layout.appendToLayout]] under the store's
    * ORIGINAL anchors, committed with the batch id as its tag;
    * `op = "del"` ids leave first via
    * [[graft.operators.Layout.deleteFromLayout]]'s touched-bucket
    * rewrite, with the old rows of re-sent ids (a re-sent id REPLACES
    * its row; a same-batch del beats the add — the grid fold). A store
    * with no committed snapshot is built from the op-store fold
    * ([[latestWinsFold]]) by [[graft.operators.Layout.writeLayout]]
    * instead; `bloomCols` ride that build, and later appends sketch
    * under the store's own geometry.
    *
    * Contract: every trigger leaves COMMITTED snapshots whose latest
    * row set equals the fold's live rows, and
    * [[graft.operators.Layout.prunedScan]] over it is lossless; a
    * reader that pinned an earlier snapshot keeps reading it unchanged
    * while the stream publishes on top. Bucket ASSIGNMENT is
    * anchor-history-dependent by design (appends never re-layout old
    * files), so the store is content-equal, not file-equal, to a
    * fresh build.
    *
    * Crash recovery is mechanical, not a rebuild: a mid-crash
    * redelivery drops the uncommitted snapshot
    * ([[graft.operators.Layout.recoverLayoutVersions]]); a batch whose
    * last commit landed is skipped ([[Trigger.committed]]) — the tagged
    * append, or for a deletion-only batch its tagged erasure — and
    * any other re-runs both ops, which are idempotent at the content
    * level — a delete whose ids are already gone publishes nothing,
    * and a delete-then-append of the same rows reproduces the same
    * live content even when the crash fell between the two commits
    * (or after a cold build's commit). Physical purge is
    * `vacuumLayout` on the caller's retention schedule.
    *
    * Scale notes (100 TB): per trigger = one manifest-scoped semi-join
    * probe + touched-bucket survivor rewrite + a delta-sized append,
    * all file-additive. The cold build is the only store-sized
    * write. */
  def streamingLayout(events: DataFrame, addsDir: String,
      delsDir: String, storeDir: String, checkpointDir: String,
      cols: Seq[String], bits: Int, nBuckets: Int,
      idCol: String = "id", opCol: String = "op",
      bloomCols: Seq[String] = Nil): StreamingQuery =
    markerGuarded(events, checkpointDir, addsDir, "streamingLayout",
        Seq(addsDir, delsDir))(withOp(opCol, idCol +: cols)) { (b, t) =>
      if (t.midCrash) Layout.recoverLayoutVersions(t.spark, storeDir)
      val (adds, dels) = idOps(b, idCol, cols)
      val hasAdds = t.record(adds, addsDir)
      t.record(dels, delsDir): Unit
      val versions = s"$storeDir/_versions"
      if (FrameVersions.current(t.spark, versions) == 0L) {
        val live = latestWinsFold(t, addsDir, Some(delsDir), idCol, cols,
          adds.limit(0)).localCheckpoint()
        if (!live.isEmpty)
          Layout.writeLayout(Layout.zOrderLayout(live, cols, bits,
            nBuckets), storeDir, cols, "z", bits, nBuckets, bloomCols)
      } else if (!t.committed(versions)) {
        // the erasure carries the batch tag only when it is the batch's
        // last commit: with adds, a crash between the two commits must
        // still re-run the append
        Layout.deleteFromLayout(t.spark, storeDir,
          dels.unionByName(adds.select(col(idCol))).distinct(), idCol,
          tag = if (hasAdds) "-" else t.batchId.toString): Unit
        if (hasAdds)
          Layout.appendToLayout(t.spark, storeDir, adds, cols, bits,
            nBuckets, tag = t.batchId.toString): Unit
      }
    }

  /** Streaming span-level decontamination — the production shape of
    * [[graft.operators.Decontaminate.scrubContaminatedSpans]]: corpus
    * documents arrive as `op = "doc"` rows and are scrubbed against
    * the ACCUMULATED benchmark store; benchmark updates (new eval
    * sets arrive too) ride the SAME stream as `op = "bench"` rows,
    * and the trigger that delivers them RE-SCRUBS exactly the stored
    * docs the new shingles touch. Re-scrubs always run from the
    * doc's ORIGINAL text — scrubbing is not compositional: a new
    * bench shingle can span tokens an earlier scrub already removed,
    * so scrub(scrub(t, A), B) ≠ scrub(t, A ∪ B).
    *
    * After every completed trigger the clean store is bit-equal to
    * the batch `scrubContaminatedSpans(live docs, all bench rows)`:
    * docs fold latest-wins per id ([[latestWinsFold]] without a
    * takedown store — a re-sent id REPLACES its text and re-scrubs;
    * same-trigger duplicates fold to one deterministic row first),
    * while the bench store is a SET UNION of every eval row ever
    * delivered (decontamination only grows — there is no
    * benchmark-takedown path, and no doc-takedown either: erasure is
    * the dedup twin's job).
    *
    * Ground truth = two op stores (`docsDir/batch=`, `benchDir/batch=`)
    * under [[markerGuarded]], markers under `docsDir`; the scrubbed
    * docs are frame `clean` of the versioned store at `cleanDir`,
    * committed once per batch ([[commitFrame]]).
    *
    * Scale notes (100 TB): an add-only trigger scrubs the DELTA docs
    * only, against broadcast bench shingle hashes (the
    * scrubContaminatedSpans contract); a bench-bearing trigger adds
    * ONE contamination probe of the doc ground truth against the
    * bench DELTA's shingles (broadcast) to find the re-scrub set —
    * the corpus scans once, only touched docs shuffle; untouched
    * clean rows pass through an anti-join verbatim (an
    * id-partitioned clean store would additionally prune the
    * rewrite, the documented step-up at real scale). */
  def streamingDecontaminate(events: DataFrame, docsDir: String,
      benchDir: String, cleanDir: String, checkpointDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      shingleSize: Int = 3, opCol: String = "op"): StreamingQuery =
    markerGuarded(events, checkpointDir, docsDir, "streamingDecontaminate",
        Seq(docsDir, benchDir))(withOp(opCol, Seq(idCol, textCol))) {
      (b, t) =>
        // same-trigger duplicate doc ids fold to one deterministic row
        // — a trigger batch has no client-visible row order
        val docs = b.filter(col("_op") === "doc")
          .groupBy(col(idCol)).agg(max(col(textCol)).as(textCol))
          .localCheckpoint()
        val bench = b.filter(col("_op") === "bench")
          .select(col(idCol), col(textCol)).distinct().localCheckpoint()
        t.record(docs, docsDir): Unit
        val hasBench = t.record(bench, benchDir)
        def liveDocs() = latestWinsFold(t, docsDir, None, idCol,
          Seq(textCol), docs.limit(0))
        val benchAll =
          if (t.hasData(benchDir))
            t.spark.read.parquet(benchDir).select(col(idCol), col(textCol))
          else bench.limit(0)
        commitFrame(t, cleanDir, "clean")(
          prev => {
            val live = liveDocs().localCheckpoint()
            // stored docs the NEW bench shingles touch: their clean text
            // is stale — re-scrub from ground truth against the FULL
            // bench store
            val affected =
              if (!hasBench) live.select(col(idCol)).limit(0)
              else Decontaminate.contaminationPairs(live, textCol, idCol,
                  bench, textCol, idCol, shingleSize)
                .select(col("doc_id").as(idCol)).distinct()
            val redo = docs.select(col(idCol))
              .unionByName(affected).distinct().localCheckpoint()
            val rescrubbed = Decontaminate.scrubContaminatedSpans(
              live.join(broadcast(redo), Seq(idCol), "left_semi"),
              textCol, idCol, benchAll, textCol, shingleSize)
            prev.join(broadcast(redo), Seq(idCol), "left_anti")
              .select(col(idCol), col("clean_text"), col("n_tokens"),
                col("n_removed"))
              .unionByName(rescrubbed)
          },
          Decontaminate.scrubContaminatedSpans(liveDocs(), textCol, idCol,
            benchAll, textCol, shingleSize))
    }
}
